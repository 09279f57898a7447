package graftbench

/** The benchmark's reported metrics: end-to-end ones from untraced runs,
  * per-layer ones from the traced rounds of a `--trace 1` run. Every name
  * is reported by every workload; a layer a workload never calls reads 0. */
object Metrics {
  type Values = Seq[(String, (Double, String))]

  private def med(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)

  /** End-to-end metrics. Operation classes: `write` (commits, compactions,
    * ingest batches), `read` (queries and reads) and `bulk` (whole-input
    * passes, reported as their items over their seconds). A class holds
    * operations of several kinds, some with one sample per run and some
    * with many. `write_mean_s` and `read_mean_s` are the mean over the
    * class's kinds of each kind's median: the median keeps one slow
    * sample from moving a kind, and the mean moves with every kind, where
    * a median across kinds would jump from one kind to another. */
  val EndToEnd: Seq[String] =
    Seq("setup_s", "write_mean_s", "read_mean_s", "bulk_items_per_s")

  def endToEnd(h: Harness, setupS: Double): Values = {
    def mean(cls: String) = {
      val kinds = h.latency.collect { case ((`cls`, _), xs) =>
        Stats.median(xs.toSeq) }
      if (kinds.isEmpty) Double.NaN else kinds.sum / kinds.size
    }
    Seq(
      "setup_s" -> (setupS, "s"),
      "write_mean_s" -> (mean("write"), "s"),
      "read_mean_s" -> (mean("read"), "s"),
      "bulk_items_per_s" -> (h.bulkItems / h.bulkSeconds, "1/s"))
  }

  /** Per class, for provenance: sample count, median, and the highest
    * percentile with ten samples beyond it (the maximum, at p100, while a
    * run holds ten samples or fewer). */
  def classSummary(h: Harness): Seq[(String, String)] =
    h.latency.toSeq.groupMap(_._1._1)(_._2).toSeq.sortBy(_._1).map {
      case (cls, kinds) =>
        val xs = kinds.flatten.toSeq
        val t = Stats.tail(xs)
        s"class.$cls" -> (f"n=${xs.size} p50=${Stats.median(xs)}%.4f " +
          f"p${t.percentile}%.1f=${t.value}%.4f")
    }

  /** Per operation kind, for provenance: untraced sample count and
    * median. */
  def kindSummary(h: Harness): Seq[(String, String)] =
    h.kindLatency.toSeq.collect { case ((kind, false), xs) =>
      s"op.$kind" -> f"n=${xs.size} p50=${Stats.median(xs.toSeq)}%.4f"
    }.sortBy(_._1)

  /** Span names whose median duration is a per-layer metric. */
  val SpanMetrics: Seq[(String, String, String)] = Seq(
    ("format.timeline_load_ms", "format.timeline_load", "ms"),
    ("write.cow_commit_s", "write.cow_commit", "s"),
    ("write.mor_commit_s", "write.mor_commit", "s"),
    ("write.compact_s", "write.compact", "s"),
    ("write.bulk_insert_s", "write.bulk_insert", "s"),
    ("read.plan_ms", "read.plan", "ms"),
    ("read.exec_s", "read.exec", "s"),
    ("sources.lookup_plan_ms", "sources.plan", "ms"),
    ("sources.lookup_exec_s", "sources.exec", "s"),
    ("deleteview.plan_ms", "deleteview.plan", "ms"),
    ("deleteview.compute_s", "deleteview.compute", "s"),
    ("deleteview.warm_s", "deleteview.warm", "s"),
    ("pipeline.gopher_s", "pipeline.gopher", "s"),
    ("pipeline.exact_s", "pipeline.exact", "s"),
    ("pipeline.minhash_s", "pipeline.minhash", "s"),
    ("pipeline.keep_best_s", "pipeline.keep_best", "s"),
    ("pipeline.ingest_s", "pipeline.ingest", "s"))

  /** Samples the workloads record, by name; their median is reported. */
  val SampleMetrics: Seq[(String, String)] = Seq(
    "format.instants" -> "count",
    "write.cow_bytes_written" -> "bytes",
    "write.mor_bytes_written" -> "bytes",
    "write.cow_amp" -> "ratio",
    "write.mor_amp" -> "ratio",
    "write.cow_space_amp" -> "ratio",
    "write.mor_space_amp" -> "ratio",
    "read.files_scanned" -> "count",
    "read.files_total" -> "count",
    "deleteview.groups_diffed" -> "count",
    "pipeline.pairs_out" -> "count",
    "pipeline.clusters_out" -> "count")

  val Classes: Seq[String] = Seq("write", "read", "bulk")
  val Layers: Seq[String] =
    Seq("op", "format", "write", "read", "sources", "deleteview", "pipeline")

  /** Per-operation-kind latencies (p50 over the untraced rounds of a
    * traced run): (name, kinds, unit). */
  val KindMetrics: Seq[(String, Seq[String], String)] = Seq(
    ("kind.cow_commit_p50_s", Seq("cow_commit"), "s"),
    ("kind.mor_commit_p50_s", Seq("mor_commit"), "s"),
    ("kind.compact_p50_s", Seq("mor_compact"), "s"),
    ("kind.cow_snapshot_p50_s", Seq("cow_snapshot"), "s"),
    ("kind.mor_snapshot_p50_s", Seq("mor_snapshot"), "s"),
    ("kind.lookup_p50_s", Seq("mor_cold_read", "cow_lookup", "mor_lookup"),
      "s"),
    ("kind.history_p50_s", Seq("cow_time_travel", "mor_time_travel",
      "cow_incremental", "mor_incremental", "cow_cdc", "mor_cdc"), "s"),
    ("kind.delete_view_cold_p50_s", Seq("cow_dv_cold", "mor_dv_cold"), "s"),
    ("kind.delete_view_warm_p50_s", Seq("cow_dv_warm", "mor_dv_warm"), "s"),
    ("kind.curate_pass_p50_s", Seq("curate_pass"), "s"),
    ("kind.ingest_batch_p50_s", Seq("ingest"), "s"))

  /** Every per-layer metric name with its unit, in report order. */
  val PerLayer: Seq[(String, String)] =
    SpanMetrics.map(m => m._1 -> m._3) ++ SampleMetrics ++ Seq(
      "format.listings_per_op" -> "count",
      "format.commit_opens_per_op" -> "count",
      "read.bytes_scanned" -> "bytes",
      "read.mor_merge_s" -> "s",
      "pipeline.ingest_jobs_per_batch" -> "count") ++
    Classes.flatMap(c => Seq(
      s"sched.$c.jobs" -> "count",
      s"sched.$c.driver_gap_s" -> "s",
      s"sched.$c.task_skew" -> "ratio",
      s"sched.$c.shuffle_bytes" -> "bytes",
      s"sched.$c.spill_bytes" -> "bytes")) ++ Seq(
      "sched.task_busy_s" -> "s",
      "sched.task_cpu_s" -> "s") ++
    Layers.map(l => s"self.${l}_s" -> "s") ++
    KindMetrics.map(m => m._1 -> m._3) ++ Seq(
      "trace.overhead_pct" -> "%",
      "op_fail_ratio" -> "ratio")

  /** @param setupSpans how many of the recorded spans belong to the
    *                   set-up, which self times leave out */
  def perLayer(h: Harness, rounds: Int, setupSpans: Int): Values = {
    val spans = h.tracer.recorded
    val traced = (rounds + 1) / 2
    val recs = h.records.filter(_.cls != "check")
    val kindOf = recs.map(r => r.id -> r.kind).toMap
    def spanMed(n: String, ss: Seq[Span] = spans) =
      med(ss.filter(_.name == n).map(_.durNs / 1e9))
    def byClass(c: String) = recs.filter(_.cls == c)
    def execOf(kind: String) =
      spanMed("read.exec", spans.filter(s => kindOf.get(s.op).contains(kind)))
    val self = Tracer.layerSelfSeconds(spans.drop(setupSpans))
    val kindLat = (kinds: Seq[String]) =>
      med(kinds.flatMap(k => h.kindLatency.getOrElse((k, false), Nil)))

    // tracing overhead: traced over untraced medians, weighted per kind
    val both = h.kindLatency.keys.map(_._1).toSeq.distinct.flatMap { k =>
      for (t <- h.kindLatency.get((k, true)); u <- h.kindLatency.get((k, false)))
        yield (t.size * Stats.median(t.toSeq), t.size * Stats.median(u.toSeq))
    }
    val overhead =
      if (both.isEmpty) 0.0 else 100 * (both.map(_._1).sum / both.map(_._2).sum - 1)

    val values: Map[String, Double] =
      SpanMetrics.map { case (m, n, u) =>
        m -> spanMed(n) * (if (u == "ms") 1000 else 1)
      }.toMap ++
      SampleMetrics.map { case (m, _) => m -> med(h.layer.getOrElse(m, Nil)) } ++
      Seq(
        "format.listings_per_op" ->
          (if (recs.isEmpty) 0.0 else recs.map(_.listings).sum.toDouble / recs.size),
        "format.commit_opens_per_op" ->
          (if (recs.isEmpty) 0.0 else recs.map(_.opens).sum.toDouble / recs.size),
        "read.bytes_scanned" -> med(recs.filter(r => r.cls != "write")
          .map(_.sched.inputBytes.toDouble)),
        "read.mor_merge_s" -> (execOf("mor_snapshot") - execOf("cow_snapshot")),
        "pipeline.ingest_jobs_per_batch" ->
          med(recs.filter(_.kind == "ingest").map(_.sched.jobs.toDouble))) ++
      Classes.flatMap { c =>
        val rs = byClass(c)
        Seq(
          s"sched.$c.jobs" -> med(rs.map(_.sched.jobs.toDouble)),
          s"sched.$c.driver_gap_s" -> med(rs.map(_.gapS)),
          s"sched.$c.task_skew" -> med(rs.map(_.sched.taskSkew)),
          s"sched.$c.shuffle_bytes" ->
            med(rs.map(_.sched.shuffleWriteBytes.toDouble)),
          s"sched.$c.spill_bytes" -> med(rs.map(_.sched.spillBytes.toDouble)))
      } ++ Seq(
        "sched.task_busy_s" -> recs.map(_.sched.runMs).sum / 1e3 / traced,
        "sched.task_cpu_s" -> recs.map(_.sched.cpuNs).sum / 1e9 / traced) ++
      Layers.map(l => s"self.${l}_s" -> self.getOrElse(l, 0.0) / traced) ++
      KindMetrics.map { case (m, kinds, _) => m -> kindLat(kinds) } ++ Seq(
        "trace.overhead_pct" -> overhead,
        "op_fail_ratio" -> h.failed.toDouble / math.max(1, h.attempted))
    PerLayer.map { case (m, u) => m -> (values(m), u) }
  }
}
