package graftbench

import graft.deleteview.DeleteView
import graft.format.Timeline
import graft.read.{ChangeFeed, IncrementalReader, SnapshotReader}
import graft.write.{CowWriter, MorWriter}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The paper's own traffic: one COW and one MOR table holding the same
  * keys, taking the same skewed upserts and deletes, read back through
  * every read path after each round's commits.
  *
  * Keys `0 until initial` start in partition `p<k % 8>`; new keys land in
  * the hot partition `p7`. Updates hit `p7` and `p6`, deletes `p6` and
  * `p5`, so `p0`–`p4` stay cold: written once, delta-free on MOR. The
  * model is the live key → payload map plus (live count, payload sum) at
  * every data commit. */
final class Lifecycle(h: Harness, dir: String, seed: Long, scale: Double)
    extends Workload {
  import Lifecycle._

  private val spark = h.spark
  private var catalog = ""
  private val initial: Long = math.max(4096L, (Rows * scale).toLong)
  private val perRoundUpserts = math.max(16, (initial * UpsertShare).toInt)
  private val perRoundDeletes = math.max(8, (initial * DeleteShare).toInt)
  private val tables = Seq("cow", "mor")
  private def path(t: String) = s"$dir/tables/$t"
  private val cow = new CowWriter(spark, path("cow"), Buckets)
  private val mor = new MorWriter(spark, path("mor"), Buckets)
  private val rng = new java.util.SplittableRandom(seed)

  private val live = mutable.LongMap.empty[Long] // key -> payload
  private var liveSum = 0L
  private var nextKey = initial
  private var coldCount = 0L
  private var coldSum = 0L
  private var bytesPerRow = 1.0
  /** (live count, payload sum) after each data commit, by ts. */
  private val atCommit = mutable.LinkedHashMap.empty[String, (Long, Long)]
  private var ts = TsBase
  private var rounds = 0

  def sizes: Seq[(String, Long)] = Seq("initial_rows" -> initial,
    "partitions" -> Parts, "buckets" -> Buckets,
    "upserts_per_round" -> perRoundUpserts,
    "deletes_per_round" -> perRoundDeletes)

  private def nextTs(): String = { ts += 1; ts.toString }

  private def frame(rows: Seq[(Long, String, Long, String)]): DataFrame =
    spark.createDataFrame(rows).toDF("k", "part", "v", "note")

  private def row(k: Long, v: Long) = (k, partOf(k), v, s"n$v-$k")

  private def partOf(k: Long): String =
    if (k < initial) s"p${k % Parts}" else s"p${Parts - 1}"

  def setup(): Unit = {
    val n = initial
    val sd = seed
    val gen = spark.range(0, n, 1, Parts).map { k =>
      val v = Lifecycle.payload(sd, k, 0)
      (k: Long, s"p${k % Parts}", v, s"n$v-$k")
    }(org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.STRING,
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.STRING)).toDF("k", "part", "v", "note")
    val t0 = nextTs()
    h.tracer.span("write.bulk_insert")(
      cow.insert(gen, col("k"), col("part"), t0, identity("cow")))
    h.tracer.span("write.bulk_insert")(
      mor.insert(gen, col("k"), col("part"), t0, identity("mor")))
    var k = 0L
    while (k < n) {
      val v = payload(seed, k, 0)
      live(k) = v
      liveSum += v
      if (k % Parts == 0) { coldCount += 1; coldSum += v }
      k += 1
    }
    atCommit(t0) = (n, liveSum)
    bytesPerRow = cow.timeline.metadata(t0).allStats
      .flatMap(_._2.sizeBytes).sum.toDouble / n
    catalog = Workload.mountCatalog(h, dir, s"$dir/tables")
  }

  /** The table properties a catalog `CREATE TABLE` records (key column,
    * partition column, table type), so catalog SQL can prune lookups. */
  private def identity(t: String): Map[String, String] =
    Map("key" -> "k", "partition" -> "part", "type" -> t)

  /** A live key of partition `p` (initial keys only), by rejection. */
  private def liveIn(p: Int, taken: mutable.Set[Long]): Long = {
    var k = -1L
    while (k < 0 || !live.contains(k) || taken(k))
      k = rng.nextLong(initial / Parts) * Parts + p
    taken += k
    k
  }

  def round(): Unit = play(withReads = true)

  /** The set-up's warm-up: only the commits, whose first run in a JVM is
    * the costliest to leave in the measured round. */
  override def warmRound(): Unit = play(withReads = false)

  private def play(withReads: Boolean): Unit = {
    rounds += 1
    val before = atCommit.last._1
    // one commit per table: upserts (70% updates in p7, 10% updates in
    // p6, 20% new keys in p7) and deletes (half p6, half p5), disjoint
    val taken = mutable.Set.empty[Long]
    val nNew = perRoundUpserts / 5
    val nWarm = perRoundUpserts / 10
    val updated = Seq.fill(perRoundUpserts - nNew - nWarm)(
      liveIn(Parts - 1, taken)) ++ Seq.fill(nWarm)(liveIn(Parts - 2, taken))
    val fresh = Seq.tabulate(nNew)(i => nextKey + i)
    nextKey += nNew
    val dels = Seq.fill(perRoundDeletes / 2)(liveIn(Parts - 2, taken)) ++
      Seq.fill(perRoundDeletes - perRoundDeletes / 2)(
        liveIn(Parts - 3, taken))
    val tsC = nextTs()
    val upRows = (updated ++ fresh).map(k => row(k, payload(seed, k, ts)))
    val delRows = dels.map(k => row(k, live(k)))
    for (t <- tables) commit(t, tsC, upRows, delRows)
    for ((k, _, v, _) <- upRows) {
      liveSum += v - live.getOrElse(k, 0L)
      live(k) = v
    }
    val delSum = delRows.map(_._3).sum
    dels.foreach { k => liveSum -= live(k); live -= k }
    atCommit(tsC) = (live.size.toLong, liveSum)
    if (!withReads) return

    val (liveNow, sumNow) = atCommit(tsC)
    for (t <- tables) {
      read(t, "snapshot", "bulk", liveNow)(
        SnapshotReader.read(spark, path(t)))(agg =>
        h.expect("snapshot", agg, (liveNow, sumNow)))
    }
    // p0 was written once: a partition-pruned read skips the MOR merge
    read("mor", "cold_read", "read")(
      SnapshotReader.read(spark, path("mor"), partitions = Seq("p0")))(agg =>
      h.expect("cold partition", agg, (coldCount, coldSum)))
    for (t <- tables) lookup(t)
    // before the change feed, which materializes the same delete view
    for (t <- tables) deleteView(t, tsC, (delRows.size.toLong, delSum))
    val back = atCommit.keys.toSeq.takeRight(TravelBack + 1).head
    val upLive = upRows.filter(r => live.contains(r._1))
    for (t <- tables) {
      read(t, "time_travel", "read")(
        SnapshotReader.read(spark, path(t), asOf = Some(back)))(agg =>
        h.expect(s"as of $back", agg, atCommit(back)))
      read(t, "incremental", "read")(
        IncrementalReader.read(spark, path(t), before, lastTs(t)))(agg =>
        h.expect("incremental", agg,
          (upLive.size.toLong, upLive.map(_._3).sum)))
      cdc(t, before, lastTs(t), Map("insert" -> fresh.size.toLong,
        "update" -> updated.size.toLong, "delete" -> dels.size.toLong))
    }

    // fold the round's MOR deltas after the reads saw them
    val tsF = nextTs()
    h.op("mor_compact", "write") {
      h.tracer.span("write.compact")(mor.compactIf(tsF, MinDeltas))
    }(_ => h.expect("compaction committed",
      mor.timeline.instantAt(tsF).isDefined, true))

    if (h.isTraced) {
      val t0 = System.nanoTime()
      val n = h.tracer.span("format.timeline_load")(
        Timeline(spark.sessionState.newHadoopConf(), path("mor"))
          .completedInstants().size)
      h.sample("format.timeline_load_ms", (System.nanoTime() - t0) / 1e6)
      h.sample("format.instants", n)
      val liveBytes = bytesPerRow * liveNow
      for (t <- tables)
        h.sample(s"write.${t}_space_amp",
          Workload.diskBytes(h, path(t)) / liveBytes)
    }
  }

  private def writer(t: String) = if (t == "cow") cow.timeline else mor.timeline

  /** The table's newest instant (a MOR compaction may follow the last
    * data commit). */
  private def lastTs(t: String): String =
    writer(t).completedInstants().last.ts

  /** One commit of upserts and deletes; traced rounds record its bytes
    * written and its write amplification (bytes written per byte of
    * changed rows). */
  private def commit(t: String, tsC: String,
      up: Seq[(Long, String, Long, String)],
      del: Seq[(Long, String, Long, String)]): Unit =
    h.op(s"${t}_commit", "write") {
      h.tracer.span(s"write.${t}_commit") {
        val (u, d) = (Some(frame(up)), Some(frame(del)))
        if (t == "cow") cow.commit(u, d, col("k"), col("part"), tsC)
        else mor.upsertDelta(u, d, col("k"), col("part"), tsC)
      }
    } { _ =>
      val meta = writer(t).metadata(tsC)
      h.expect("totalRecordsDeleted", meta.totalRecordsDeleted,
        del.size.toLong)
      if (h.isTraced) {
        val bytes = meta.allStats.flatMap(_._2.sizeBytes).sum
        h.sample(s"write.${t}_bytes_written", bytes.toDouble)
        h.sample(s"write.${t}_amp",
          bytes / ((up.size + del.size) * bytesPerRow))
      }
    }

  /** A read path's aggregate (live rows, payload sum). */
  private def read(t: String, what: String, cls: String, items: Long = 0L)(
      mk: => DataFrame)(check: ((Long, Long)) => Unit): Unit =
    h.op(s"${t}_$what", cls, items) {
      h.query("read")(
        mk.agg(count(lit(1)), coalesce(sum(col("v")), lit(0L))))
    } { case (df, rows) =>
      check((rows.head.getLong(0), rows.head.getLong(1)))
      if (h.isTraced) {
        h.sample("read.files_scanned", df.inputFiles.length)
        h.sample("read.files_total", filesTotal(t))
      }
    }

  /** Ten keys through catalog SQL: hot, warm, cold and one deleted. */
  private def lookup(t: String): Unit = {
    val cold = Seq.fill(3)(rng.nextLong(initial / Parts) * Parts)
      .filter(live.contains)
    val hot = Seq.fill(4)(
      nextKey - 1 - rng.nextLong(math.max(1L, nextKey - initial)))
    val warm = Seq.fill(2)(rng.nextLong(initial / Parts) * Parts + Parts - 2)
    val gone = Seq(rng.nextLong(initial / Parts) * Parts + Parts - 3)
    val keys = (cold ++ hot ++ warm ++ gone).distinct
    val want = keys.flatMap(k => live.get(k).map(k -> _)).toMap
    h.op(s"${t}_lookup", "read") {
      h.query("sources")(spark.sql(
        s"SELECT k, v FROM $catalog.$t WHERE k IN (${keys.mkString(",")})"))._2
    } { rows =>
      h.expect("lookup", rows.map(r => r.getLong(0) -> r.getLong(1)).toMap,
        want)
    }
  }

  /** The delete view of `tsD`, computed (cold) and then served from its
    * `.delete/<T>/` cache (warm). */
  private def deleteView(t: String, tsD: String, want: (Long, Long)): Unit = {
    def agg(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), coalesce(sum(col("v")), lit(0L)))
        .collect().head
      (r.getLong(0), r.getLong(1))
    }
    val tl = writer(t)
    h.op(s"${t}_dv_cold", "read") {
      val dv = h.tracer.span("deleteview.plan")(
        DeleteView(spark, path(t), tsD))
      h.tracer.span("deleteview.compute")(agg(dv.toDF()))
    } { got =>
      h.expect("delete view", got, want)
      h.expect("delete view vs commit", got._1,
        tl.metadata(tsD).totalRecordsDeleted)
      if (h.isTraced) h.sample("deleteview.groups_diffed",
        tl.metadata(tsD).allStats.count { case (_, s) =>
          s.prevCommit.isDefined && s.numDeletes > 0 })
    }
    h.op(s"${t}_dv_warm", "read") {
      h.tracer.span("deleteview.warm")(
        agg(DeleteView(spark, path(t), tsD).toDF()))
    }(got => h.expect("delete view (cached)", got, want))
  }

  private def cdc(t: String, from: String, to: String,
      want: Map[String, Long]): Unit =
    h.op(s"${t}_cdc", "read") {
      h.query("read")(ChangeFeed.read(spark, path(t), from, to)
        .groupBy(ChangeFeed.ChangeType).count())._2
    } { rows =>
      h.expect("change feed", rows.map(r => r.getString(0) -> r.getLong(1))
        .toMap, want)
    }

  /** Files a full snapshot of `t` covers: base files plus deltas. */
  private def filesTotal(t: String): Int =
    writer(t).latestSlices(None).values
      .map(s => s.relPath.size + s.deltas.size).sum
}

object Lifecycle {
  /** Initial keys at scale 1. */
  val Rows = 100000L
  val Parts = 8
  val Buckets = 16
  val UpsertShare = 0.01
  val DeleteShare = 0.005
  /** Compaction folds every group the round wrote to: each round's reads
    * see exactly one round of MOR deltas. */
  val MinDeltas = 1
  val TravelBack = 3
  val TsBase = 100000000000L

  /** The payload of key `k` as written by commit `ver` (0 = initial). */
  def payload(seed: Long, k: Long, ver: Long): Long =
    Workload.mix(seed * 0x2545F4914F6CDD1DL ^ Workload.mix(k) ^ (ver << 40)) &
      0x7FFFFFFFL
}
