package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.{TopK, VectorOps}
import graft.index.{HNSWGraph, IVFFlat}

/** Per-layer metrics of a traced run: counters and self times read off
  * the trace, plus warm microbenchmarks of the layers the lifecycle only
  * reaches through Spark (`functions`, in-process `HNSWGraph`). */
final class Layers(spark: SparkSession, life: Lifecycle, tracer: Tracer, cores: Int) {
  import Settings._

  private def nanos(f: => Unit): Long = { val t = System.nanoTime(); f; System.nanoTime() - t }

  /** one warm-up call, then the median of three timed calls, in ns */
  private def warm(f: => Unit): Double = {
    f
    Stats.median(Seq.fill(3)(nanos(f).toDouble))
  }

  /** Microbenchmarks; each runs inside a span so the artifact shows them. */
  def micro(): Seq[Metric] = tracer.span("layers", request = true) {
    val corpus = life.buildDF
    val rows = corpus.count().toDouble
    val vecs = life.corpus.vectors.take(rows.toInt)
    // enough pairs (1024 probes × the corpus) that the kernel, not the
    // job's fixed cost, dominates each timing
    def probesOf(qs: Array[Array[Float]]) =
      broadcast(spark.createDataFrame(qs.indices.map(i => (i.toLong, qs(i)))).toDF("qid", "qvec"))
    val qs = vecs.take(1024)
    val pairs = corpus.crossJoin(probesOf(qs))
    val nPairs = rows * qs.length
    // per-row kernels run over the corpus repeated 8 times, so that the
    // rows, not the job's fixed cost, dominate the timing
    val wide = corpus.crossJoin(broadcast(spark.range(8).toDF("rep")))
    val wideRows = rows * 8

    def perPair(name: String, kernel: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column): Double =
      tracer.span(s"functions.$name") {
        warm(pairs.select(kernel(col("vector"), col("qvec")).as("d")).agg(sum("d")).collect())
      } / nPairs

    val sq = perPair("sqDist", VectorOps.sqDist)
    val dt = perPair("dot", VectorOps.dot)
    val norm = tracer.span("functions.normalizeF") {
      warm(wide.select(VectorOps.normalizeF(col("vector")).as("v"))
        .agg(sum(element_at(col("v"), 1))).collect())
    } / wideRows
    // TopK over precomputed distances of the 256 batch queries
    val dists = corpus.crossJoin(probesOf(life.batchQueries)).select(col("qid"), col("id"),
      VectorOps.sqDist(col("vector"), col("qvec")).as("distance")).cache()
    val distRows = dists.count().toDouble
    val topk = tracer.span("functions.TopK") {
      warm(dists.groupBy("qid").agg(TopK.topK(col("distance"), col("id"), K)).collect())
    } / distRows
    dists.unpersist(blocking = true)
    var sink = 0.0
    val jvm = warm {
      qs.foreach(q => vecs.foreach(v => sink += Oracle.sqDist(v, q)))
    } / nPairs
    require(!sink.isNaN)

    val assign = tracer.span("index.IVFFlat.assign") {
      warm(IVFFlat.assign(wide, "id", "vector", life.ivf.centroids)
        .agg(sum("cluster")).collect())
    } / wideRows

    // one HNSW shard's worth of rows, built and searched in process
    val shardRows = vecs.indices.filter(_ % cores == 0)
    val (graph, insertNs) = tracer.span("index.HNSWGraph.build") {
      val t = System.nanoTime()
      val g = HNSWGraph.build(HNSWGraph.Params(m = HnswM, efSearch = HnswEf, seed = life.seedValue),
        shardRows.iterator.map(i => (i.toLong, vecs(i))))
      (g, System.nanoTime() - t)
    }
    val queries = life.batchQueries
    val searchNs = tracer.span("index.HNSWGraph.searchKnn") {
      queries.foreach(q => graph.searchKnn(q, K)) // warm-up pass
      nanos(queries.foreach(q => graph.searchKnn(q, K)))
    }

    Seq(
      Metric("functions.sqDist.ns_per_pair", sq, "ns"),
      Metric("functions.dot.ns_per_pair", dt, "ns"),
      Metric("functions.TopK.ns_per_row", topk, "ns"),
      Metric("functions.normalizeF.ns_per_row", norm, "ns"),
      Metric("functions.sqDist.vs_jvm_loop", sq / jvm, "ratio"),
      Metric("index.IVFFlat.assign.ns_per_row", assign, "ns"),
      Metric("index.HNSWGraph.insert_us", insertNs / 1e3 / shardRows.length, "us"),
      Metric("index.HNSWGraph.search_us", searchNs / 1e3 / queries.length, "us"))
  }

  /** Counters read from the built models and extra Spark jobs. */
  def counters(): Seq[Metric] = tracer.span("layers", request = true) {
    val ivf = life.ivf
    val sizes = ivf.clusterSizes
    def probed(q: Array[Float], nprobe: Int): Long =
      ivf.probeSet(q, K, nprobe).map(c => sizes(c)).sum
    val qs = life.batchQueries
    val candidates = qs.map(probed(_, IvfNprobe)).sum.toDouble / qs.length
    val joinPairs = life.corpus.vectors.take(life.shape.buildRows)
      .map(probed(_, JoinNprobe)).sum.toDouble
    val leaves = life.lsh.trees.map(_.leafSizes.size).sum
    val leafMax = life.lsh.trees.flatMap(_.leafSizes.values).max
    val blobBytes = life.hnsw.shards.toDF().agg(sum(length(col("blob")))).head().getLong(0)
    val cells = IVFFlat.assignMulti(life.buildDF, "id", "vector", ivf.centroids)
      .groupBy("cluster").count().collect().map(_.getLong(1))
    val semPairs = cells.map(n => n * (n - 1) / 2).sum
    Seq(
      Metric("index.IVFFlat.candidates_per_query", candidates, "count"),
      Metric("index.IVFFlat.useful_frac", K / candidates, "ratio"),
      Metric("index.IVFFlat.cell_skew", sizes.max.toDouble / (sizes.sum.toDouble / sizes.length), "ratio"),
      Metric("index.IVFFlat.knnJoin.pairs_scored", joinPairs, "count"),
      Metric("index.LSHForest.leaves", leaves, "count"),
      Metric("index.LSHForest.leaf_max", leafMax, "count"),
      Metric("index.HNSW.blob_bytes", blobBytes, "bytes"),
      Metric("operators.Dedup.semdedup.pairs_scored", semPairs, "count"))
  }

  /** Metrics read off the finished trace of the measured workload. */
  def fromTrace(log: TraceLog, saveFiles: Int, saveBytes: Long, joinPairs: Double): Seq[Metric] = {
    def durs(name: String): Seq[Double] = log.named(name).map(_.dur.toDouble)
    def medS(name: String): Double = Stats.median(durs(name)) / 1e9
    def jobsPer(name: String): Double = {
      val ss = log.named(name)
      ss.map(s => log.jobsUnder(s.id).size).sum.toDouble / ss.size
    }
    def selfMs(name: String): Double = Stats.median(log.named(name).map(log.selfNs(_).toDouble)) / 1e6
    // the last call: a measured round's, not the warm-up's
    def last(name: String) = log.named(name).last
    val truthPairs = life.truthPairs.toDouble
    val hnswBuildJobs = log.jobsUnder(last("index.HNSW.build").id)
    val straggler = {
      val stages = hnswBuildJobs.flatMap(_.taskRuns.toSeq)
      val (_, runs) = stages.maxBy(_._2.sum)
      runs.max.toDouble / math.max(1.0, Stats.median(runs.map(_.toDouble).toSeq))
    }
    val root = log.named("workload." + life.shape.name).head
    val jobs = log.jobsUnder(root.id)
    val calls = log.spans.filter(s => s.parent != 0 && log.spans.exists(p => p.id == s.parent && p.name.startsWith("phase.")))
    Seq(
      Metric("index.IVFFlat.build.s", medS("index.IVFFlat.build"), "s"),
      Metric("index.IVFFlat.build.jobs", jobsPer("index.IVFFlat.build"), "count"),
      Metric("index.IVFFlat.search.jobs_per_query", jobsPer("index.IVFFlat.search"), "count"),
      Metric("index.IVFFlat.search.self_ms", selfMs("index.IVFFlat.search"), "ms"),
      Metric("index.IVFFlat.save.files", saveFiles, "count"),
      Metric("index.IVFFlat.save.bytes", saveBytes.toDouble, "bytes"),
      Metric("index.IVFFlat.knnJoin.ns_per_pair", Stats.median(durs("index.IVFFlat.knnJoin")) / joinPairs, "ns"),
      Metric("index.LSHForest.build.s", medS("index.LSHForest.build"), "s"),
      Metric("index.LSHForest.build.jobs", jobsPer("index.LSHForest.build"), "count"),
      Metric("index.LSHForest.build.shuffle_bytes",
        log.jobsUnder(last("index.LSHForest.build").id).map(_.shuffleWrite).sum.toDouble, "bytes"),
      Metric("index.LSHForest.search.jobs_per_query", jobsPer("index.LSHForest.search"), "count"),
      Metric("index.LSHForest.add.jobs", jobsPer("index.LSHForest.add"), "count"),
      Metric("index.HNSW.build.s", medS("index.HNSW.build"), "s"),
      Metric("index.HNSW.build.task_max_over_median", straggler, "ratio"),
      Metric("index.HNSW.search.self_ms", selfMs("index.HNSW.search"), "ms"),
      Metric("index.HNSW.add.s", medS("index.HNSW.add"), "s"),
      Metric("operators.Exhaustive.knnJoin.ns_per_pair",
        Stats.median(durs("operators.Exhaustive.knnJoin")) / truthPairs, "ns"),
      Metric("operators.Dedup.semdedup.s", medS("operators.Dedup.semdedup"), "s"),
      Metric("spark.jobs", jobs.size, "count"),
      Metric("spark.stages", jobs.map(_.stages).sum, "count"),
      Metric("spark.tasks", jobs.map(_.tasks).sum, "count"),
      Metric("spark.planning_ms", log.planningMsUnder(root.id).toDouble, "ms"),
      Metric("spark.driver_gap_ms", calls.map(log.driverGapNs).sum / 1e6, "ms"),
      Metric("spark.scheduler_delay_ms", jobs.map(_.schedDelayMs).sum.toDouble, "ms"),
      Metric("spark.task_busy_frac", jobs.map(_.runNs).sum.toDouble / (root.dur.toDouble * cores), "ratio"),
      Metric("spark.shuffle_write_bytes", jobs.map(_.shuffleWrite).sum.toDouble, "bytes"),
      Metric("spark.shuffle_read_bytes", jobs.map(_.shuffleRead).sum.toDouble, "bytes"),
      Metric("spark.spill_bytes", jobs.map(_.spill).sum.toDouble, "bytes"),
      Metric("spark.input_bytes", jobs.map(_.input).sum.toDouble, "bytes"),
      Metric("spark.output_bytes", jobs.map(_.output).sum.toDouble, "bytes"),
      Metric("spark.gc_ms", jobs.map(_.gcMs).sum.toDouble, "ms"),
      Metric("spark.failed_tasks", jobs.map(_.failedTasks).sum, "count"))
  }
}
