package graftbench

import graft.pipeline.{Dedup, TextAnalysis}
import graft.read.SnapshotReader
import graft.write.CowWriter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** A training-data curation pass over a synthetic corpus, then small
  * incremental dedup batches into a persistent signature index.
  *
  * The corpus is random text over a large vocabulary with planted
  * structure, each kind disjoint from the others: repetitive docs the
  * Gopher filter drops, exact-duplicate groups (case and whitespace
  * variants), near-duplicate clusters (one substituted token per copy),
  * and one hot near-duplicate cluster, at full size exactly
  * [[Curate.MaxBucket]] docs large. The model of each stage's output
  * follows from the plan: every background doc survives, each exact group
  * keeps its smallest id, each cluster its highest-scoring member. */
final class Curate(h: Harness, dir: String, seed: Long, scale: Double)
    extends Workload {
  import Curate._

  private val spark = h.spark
  private var catalog = ""
  private val docs: Int = math.max(2000, (Docs * scale).toInt)
  private val batch: Int = math.max(50, (Batch * scale).toInt)
  private val hot: Int = math.max(8, (MaxBucket * scale).toInt)
  private val rng = new java.util.SplittableRandom(seed)
  private val corpusPath = s"$dir/corpus"
  private val indexDir = s"$dir/index"

  // model of the bulk pass
  private var gopherKept = 0L
  private var exactKept = 0L
  private val keptIds = mutable.Set.empty[Long]
  private var clustersPlanted = 0
  /** Kept docs and their score sum, per shard. */
  private val shardModel = mutable.Map.empty[String, (Long, Long)]
  // model of the ingest index: every ingested doc's tokens, and kept count
  private val ingested = mutable.ArrayBuffer.empty[Array[String]]
  private var ingestKept = 0L
  private var nextIngestId = IngestIdBase
  private var noise = 0L
  private var passes = 0

  def sizes: Seq[(String, Long)] = Seq("docs" -> docs.toLong,
    "hot_cluster" -> hot.toLong, "ingest_batch" -> batch.toLong,
    "ingest_batches_per_round" -> Batches.toLong)

  private def word(): String = s"w${rng.nextInt(Vocab)}"
  private def randomDoc(): Array[String] =
    Array.fill(MinLen + rng.nextInt(MaxLen - MinLen + 1))(word())
  /** A copy of `src` with one token replaced by a never-used one. */
  private def nearCopy(src: Array[String]): Array[String] = {
    val c = src.clone()
    noise += 1
    c(rng.nextInt(c.length)) = s"x$noise"
    c
  }

  def setup(): Unit = {
    val exactGroups = docs / 50  // 3 docs each: 6% of the corpus
    val clusters = docs / 40     // 4 docs each: 10%
    val bad = docs / 50          // 2%
    val texts = mutable.ArrayBuffer.empty[(String, Int)] // (text, group)
    // group ids: -1 background/bad, 0.. exact groups, 1e6.. clusters
    for (_ <- 0 until bad) {
      val phrase = Array.fill(6)(word())
      texts += ((Array.fill(10)(phrase).flatten.mkString(" "), BadGroup))
    }
    for (g <- 0 until exactGroups) {
      val t = randomDoc().mkString(" ")
      texts += ((t, g))
      texts += ((t.toUpperCase, g))
      texts += (("  " + t.replace(" ", "   ") + " ", g))
    }
    def cluster(g: Int, size: Int): Unit = {
      val src = randomDoc()
      texts += ((src.mkString(" "), g))
      for (_ <- 1 until size) texts += ((nearCopy(src).mkString(" "), g))
    }
    for (c <- 0 until clusters) cluster(ClusterBase + c, 4)
    cluster(ClusterBase + clusters, hot)
    clustersPlanted = clusters + 1
    while (texts.size < docs) texts += ((randomDoc().mkString(" "), -1))
    // ids in random order, so planted groups are spread over the corpus
    val ids = (0L until texts.size.toLong).toArray
    for (i <- ids.indices.reverse) {
      val j = rng.nextInt(i + 1)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    val scores = Array.fill(texts.size)(rng.nextInt(1000000).toLong)
    val rows = texts.indices.map(i =>
      (ids(i), texts(i)._1, scores(i), s"s${ids(i) % Shards}"))
    h.tracer.span("write.corpus")(
      spark.createDataFrame(rows).toDF("id", "text", "q", "shard")
        .repartition(Shards).write.parquet(corpusPath))

    // model: Gopher drops `bad`; exact keeps min id per group; clusters
    // keep their best (score desc, id asc); background is kept
    val byGroup = texts.indices.groupBy(i => texts(i)._2)
    gopherKept = texts.size - bad
    exactKept = gopherKept - 2L * exactGroups
    for ((g, members) <- byGroup if g != BadGroup) {
      if (g == -1) members.foreach(i => keptIds += ids(i))
      else if (g < ClusterBase) keptIds += members.map(i => ids(i)).min
      else keptIds += members.map(i => (-scores(i), ids(i))).min._2
    }
    val scoreOf = texts.indices.map(i => ids(i) -> scores(i)).toMap
    keptIds.foreach { id =>
      val s = s"s${id % Shards}"
      val (n, q) = shardModel.getOrElse(s, (0L, 0L))
      shardModel(s) = (n + 1, q + scoreOf(id))
    }
    catalog = Workload.mountCatalog(h, dir, s"$dir/curated")
  }

  def round(): Unit = {
    bulkPass()
    for (_ <- 0 until Batches) {
      ingestBatch()
      indexRead()
    }
  }

  override def warmRound(): Unit = {
    bulkPass()
    ingestBatch()
    indexRead()
  }

  private def bulkPass(): Unit = {
    passes += 1
    val table = s"t$passes"
    val out = s"$dir/curated/$table"
    h.op("curate_pass", "bulk", docs.toLong) {
      val corpus = spark.read.parquet(corpusPath)
      val good = h.tracer.span("pipeline.gopher")(materialize(
        corpus.join(TextAnalysis.gopherKeep(corpus, col("id"), col("text")),
          col("id") === col("doc_id"), "left_semi")))
      val exact = h.tracer.span("pipeline.exact")(
        materialize(Dedup.exact(good, col("text"), col("id"))))
      val pairs = h.tracer.span("pipeline.minhash")(
        Dedup.minhashPairs(exact, col("id"), col("text"),
          maxBucket = MaxBucket))
      val kept = h.tracer.span("pipeline.keep_best")(materialize(
        Dedup.keepBestPerCluster(exact, col("id"), pairs, col("id_a"),
          col("id_b"), col("q"))))
      h.tracer.span("write.bulk_insert")(
        new CowWriter(spark, out, Shards).insert(kept, col("id"),
          col("shard"), s"${TsBase + passes}",
          Map("key" -> "id", "partition" -> "shard")))
      (good, exact, pairs, kept)
    } { case (good, exact, pairs, kept) =>
      h.expect("gopher kept", good.count(), gopherKept)
      h.expect("exact kept", exact.count(), exactKept)
      val ps = pairs.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val clusters = components(ps.toSeq)
      h.expect("clusters", clusters, clustersPlanted)
      val ids = kept.select("id").collect().map(_.getLong(0))
      h.expect("kept", ids.length.toLong, keptIds.size.toLong)
      h.expect("kept ids", ids.toSet == keptIds, true)
      if (h.isTraced) {
        h.sample("pipeline.pairs_out", ps.length)
        h.sample("pipeline.clusters_out", clusters)
      }
      Seq(good, exact, kept).foreach(_.unpersist())
    }
    // a training reader's view of the curated table, shard by shard
    for (i <- 0 until Shards) {
      val shard = s"s$i"
      h.op("shard_read", "read") {
        h.query("sources")(spark.sql(s"SELECT count(*), coalesce(sum(q), 0) " +
          s"FROM $catalog.$table WHERE shard = '$shard'"))._2.head
      } { r =>
        h.expect(s"shard $shard", (r.getLong(0), r.getLong(1)),
          shardModel.getOrElse(shard, (0L, 0L)))
      }
    }
    if (passes > 1) Workload.deleteDir(h, s"$dir/curated/t${passes - 1}")
  }

  /** One ingest batch: fresh docs plus planted copies of earlier ones
    * (exact copies and one-token near copies), which the index must drop. */
  private def ingestBatch(): Unit = {
    val rows = mutable.ArrayBuffer.empty[(Long, String)]
    var kept = 0L
    for (_ <- 0 until batch) {
      val dupOf =
        if (ingested.nonEmpty && rng.nextInt(10) < 2)
          Some(ingested(rng.nextInt(ingested.size)))
        else None
      val toks = dupOf match {
        case Some(src) if rng.nextBoolean() => src
        case Some(src) => nearCopy(src)
        case None => kept += 1; randomDoc()
      }
      ingested += toks
      rows += ((nextIngestId, toks.mkString(" ")))
      nextIngestId += 1
    }
    ingestKept += kept
    val df = spark.createDataFrame(rows.toSeq).toDF("id", "text")
    h.op("ingest", "write") {
      h.tracer.span("pipeline.ingest")(
        Dedup.ingestDedup(spark, indexDir, df, col("id"), col("text"),
          maxBucket = MaxBucket)): Unit
    }(_ => ())
  }

  /** The index read back: every doc ingested so far, and the kept count. */
  private def indexRead(): Unit =
    h.op("index_read", "read") {
      h.query("read")(SnapshotReader.read(spark, indexDir)
        .agg(count(lit(1)), sum(col("kept").cast("long"))))._2.head
    } { r =>
      h.expect("index rows", r.getLong(0), ingested.size.toLong)
      h.expect("index kept", r.getLong(1), ingestKept)
    }

  /** A stage boundary: the stage's output computed once and cached, so
    * each stage's span holds its own work. */
  private def materialize(df: DataFrame): DataFrame = {
    df.persist()
    df.count()
    df
  }

}

object Curate {
  val Docs = 10000
  val Batch = 100
  val Batches = 3
  val Vocab = 50000
  val MinLen = 40
  val MaxLen = 80
  /** The bucket cap of `minhashPairs` and `ingestDedup`. `Dedup`'s default
    * is 1000, but a 1000-doc hot cluster makes the curation pass about 60%
    * longer, more than the benchmark's time budget holds. */
  val MaxBucket = 256
  val Shards = 8
  val BadGroup: Int = -2
  val ClusterBase = 1000000
  val IngestIdBase = 1000000000L
  val TsBase = 100000000000L

  /** Connected components of an undirected pair list (union-find). */
  def components(pairs: Seq[(Long, Long)]): Int = {
    val parent = mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (c != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    for ((a, b) <- pairs) {
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    parent.keys.count(k => find(k) == k)
  }
}
