package perfbench

import java.io.{File, PrintWriter}

import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run:
  *
  * {{{
  * perfbench.Main --workload serve|simjoin --seed N --seconds S
  *                --trace 0|1 --out DIR [--cores C]
  * }}}
  *
  * Untraced (`--trace 0`): no listener is registered; the last stdout
  * line carries the end-to-end metrics. Traced (`--trace 1`): the same
  * lifecycle runs under spans and Spark/QueryExecution listeners, then
  * layer microbenchmarks; the last line carries the per-layer metrics and
  * DIR receives the span dump, the per-call table and the traced run's
  * end-to-end metrics (the tracing-overhead input). */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, usage(s"missing --$k"))
    val shape = Shapes.byName(need("workload")).getOrElse(usage(s"unknown workload ${need("workload")}"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val out = new File(need("out"))
    val cores = opts.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val work = new File(out, s"work-${ProcessHandle.current.pid}")
    work.mkdirs()
    try runOnce(shape, seed, seconds, traced, out, work, cores)
    finally Files.delete(work)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println("usage: --workload serve|simjoin --seed N --seconds S --trace 0|1 --out DIR [--cores C]")
    sys.exit(2)
  }

  def session(cores: Int, work: File): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // the TopK aggregate's per-group heaps stay hash-aggregated (as in graft.Bench)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()

  private def runOnce(shape: Shape, seed: Long, seconds: Double, traced: Boolean,
                      out: File, work: File, cores: Int): Unit = {
    val t0 = System.nanoTime()
    val spark = session(cores, work)
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val tracer = new Tracer(traced, spark)
      val life = new Lifecycle(spark, shape, seed, tracer, work, cores)
      val setups = Seq.fill(Settings.SetupReps)(life.setUp())
      val warmS = life.warmUp()
      val setupS = sessionS + Stats.median(setups) + warmS
      val rounds = shape.rounds(seconds)
      val tRun = System.nanoTime()
      life.run(rounds)
      val runS = (System.nanoTime() - tRun) / 1e9
      val (e2e, tail) = EndToEnd.metrics(life, setupS)

      println(f"perfbench ${shape.name} seed=$seed rounds=$rounds cores=$cores " +
        f"session=${sessionS}%.2fs setups=${setups.map(s => f"$s%.2f").mkString(",")}s " +
        f"warmup=${warmS}%.2fs measured=${runS}%.2fs " +
        f"rounds=${life.roundSeconds.map(s => f"$s%.2f").mkString(",")}s traced=$traced")
      println(f"query_tail_ms is p${tail.percentile}%.1f of n=${tail.n} single queries")
      e2e.foreach(m => println(f"  ${m.name}%-28s ${m.value}%14.4f ${m.unit}"))
      life.samples.foreach { case (k, v) =>
        println(s"  samples $k: ${v.map(x => f"$x%.3f").mkString(" ")}")
      }
      life.problems.foreach(p => println(s"  FAILED $p"))
      println(s"  error_rate ${life.failed}/${life.attempted}")

      val ms =
        if (!traced) e2e
        else {
          val layers = new Layers(spark, life, tracer, cores)
          val micro = layers.micro()
          val counters = layers.counters()
          val log = tracer.finish()
          val joinPairs = counters.find(_.name == "index.IVFFlat.knnJoin.pairs_scored").get.value
          val (files, bytes) = life.ivfSave.get
          val fromTrace = layers.fromTrace(log, files, bytes, joinPairs)
          val perLayer = Catalog.PerLayer.map(n => (micro ++ counters ++ fromTrace ++ EndToEnd.writePath(life))
            .find(_.name == n).getOrElse(sys.error(s"per-layer metric $n not measured")))
          writeArtifacts(out, shape.name, seed, log, e2e, perLayer, tail)
          perLayer
        }
      println(Json.result(life.failed == 0, life.attempted, life.failed, ms))
    } finally spark.stop()
  }

  private def writeArtifacts(out: File, workload: String, seed: Long, log: TraceLog,
                             e2e: Seq[Metric], perLayer: Seq[Metric], tail: Stats.Tail): Unit = {
    def write(name: String, text: String): Unit = {
      val w = new PrintWriter(new File(out, name), "UTF-8")
      try w.write(text) finally w.close()
    }
    val stem = s"traced-$workload-seed$seed"
    write(s"$stem-e2e.json", Json.metrics(e2e) + "\n")
    write(s"$stem-layers.json", Json.metrics(perLayer) + "\n")
    write(s"$stem-spans.json", Report.spansJson(log))
    write(s"$stem-calls.md", Report.callTable(log, workload, seed, perLayer, tail))
  }
}
