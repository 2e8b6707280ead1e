package perfbench

/** Every metric name a run reports, in output order. */
object Catalog {
  val EndToEnd: Seq[String] = Seq("setup_s",
    "build_s.ivfflat", "build_s.lsh", "build_s.hnsw",
    "query_p50_ms.ivfflat", "query_p50_ms.lsh", "query_p50_ms.hnsw",
    "query_tail_ms", "batch_qps", "recall_at_10", "join_s")

  val PerLayer: Seq[String] = Seq(
    "functions.sqDist.ns_per_pair", "functions.dot.ns_per_pair",
    "functions.TopK.ns_per_row", "functions.normalizeF.ns_per_row",
    "functions.sqDist.vs_jvm_loop",
    "index.IVFFlat.build.s", "index.IVFFlat.build.jobs",
    "index.IVFFlat.assign.ns_per_row", "index.IVFFlat.search.jobs_per_query",
    "index.IVFFlat.search.self_ms", "index.IVFFlat.candidates_per_query",
    "index.IVFFlat.useful_frac", "index.IVFFlat.cell_skew",
    "index.IVFFlat.save.files", "index.IVFFlat.save.bytes",
    "index.IVFFlat.knnJoin.pairs_scored", "index.IVFFlat.knnJoin.ns_per_pair",
    "index.LSHForest.build.s", "index.LSHForest.build.jobs",
    "index.LSHForest.build.shuffle_bytes", "index.LSHForest.leaves",
    "index.LSHForest.leaf_max", "index.LSHForest.search.jobs_per_query",
    "index.LSHForest.add.jobs",
    "index.HNSW.build.s", "index.HNSW.build.task_max_over_median",
    "index.HNSW.blob_bytes", "index.HNSW.search.self_ms", "index.HNSW.add.s",
    "index.HNSWGraph.insert_us", "index.HNSWGraph.search_us",
    "index.add_visible_s", "index.save_s", "index.reopen_s",
    "index.disk_bytes_per_vector_byte",
    "operators.Exhaustive.knnJoin.ns_per_pair", "operators.Dedup.semdedup.s",
    "operators.Dedup.semdedup.pairs_scored",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.planning_ms",
    "spark.driver_gap_ms", "spark.scheduler_delay_ms", "spark.task_busy_frac",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes",
    "spark.input_bytes", "spark.output_bytes", "spark.gc_ms", "spark.failed_tasks")
}

/** Artifacts of a traced run. */
object Report {

  /** Spans and jobs; each job names the span it was attributed to. */
  def spansJson(log: TraceLog): String = {
    val spans = log.spans.sortBy(_.start).map { s =>
      s"""{"id": ${s.id}, "name": ${Json.str(s.name)}, "parent": ${s.parent}, "request": ${s.request}, """ +
        s""""start_ns": ${s.start}, "end_ns": ${s.end}, "self_ns": ${log.selfNs(s)}}"""
    }
    val jobs = log.jobs.map { j =>
      s"""{"job": ${j.jobId}, "span": ${log.jobSpan.getOrElse(j.jobId, 0)}, "labelled": ${j.label.isDefined}, "failed": ${j.failed}, """ +
        s""""submit_ns": ${j.submit}, "end_ns": ${j.end}, "stages": ${j.stages}, "tasks": ${j.tasks}, """ +
        s""""run_ms": ${j.runNs / 1000000}, "shuffle_write": ${j.shuffleWrite}, "input": ${j.input}, "output": ${j.output}}"""
    }
    spans.mkString("{\"spans\": [\n", ",\n", "\n],\n") + jobs.mkString("\"jobs\": [\n", ",\n", "\n]}\n")
  }

  /** Markdown: one row per call name (spans under a phase), then the
    * per-layer metrics. */
  def callTable(log: TraceLog, workload: String, seed: Long, perLayer: Seq[Metric],
                tail: Stats.Tail): String = {
    val phaseIds = log.spans.filter(_.name.startsWith("phase.")).map(_.id).toSet
    val calls = log.spans.filter(s => phaseIds(s.parent)).groupBy(_.name).toSeq.sortBy(_._1)
    def med(xs: Seq[Double]) = Stats.median(xs)
    val rows = calls.map { case (name, ss) =>
      val jobs = ss.map(s => log.jobsUnder(s.id))
      def perCall(f: JobRec => Long) = jobs.map(_.map(f).sum).sum.toDouble / ss.size
      f"| $name | ${ss.size} | ${med(ss.map(_.dur / 1e6))}%.1f | ${med(ss.map(log.selfNs(_) / 1e6))}%.1f | " +
        f"${med(ss.map(log.driverGapNs(_) / 1e6))}%.1f | ${jobs.map(_.size).sum.toDouble / ss.size}%.1f | " +
        f"${perCall(_.stages.toLong)}%.1f | ${perCall(_.tasks.toLong)}%.1f | " +
        f"${ss.map(s => log.planningMsUnder(s.id)).sum.toDouble / ss.size}%.1f | " +
        f"${perCall(_.shuffleWrite)}%.0f | ${perCall(_.input)}%.0f | ${perCall(_.output)}%.0f |"
    }
    val layerRows = perLayer.map(m => f"| ${m.name} | ${m.value}%.6g | ${m.unit} |")
    (Seq(s"# Traced run: workload `$workload`, seed $seed", "",
      f"Single-query tail: p${tail.percentile}%.1f of n=${tail.n}.", "",
      "## Calls into the program (per call; times in ms)", "",
      "| call | n | median | median self | median driver gap | jobs | stages | tasks | planning | shuffle write B | input B | output B |",
      "|---|---|---|---|---|---|---|---|---|---|---|---|") ++ rows ++
      Seq("", "## Per-layer metrics", "", "| metric | value | unit |", "|---|---|---|") ++
      layerRows).mkString("", "\n", "\n")
  }
}
