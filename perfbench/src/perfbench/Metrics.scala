package perfbench

/** A reported metric: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** The end-to-end metrics of one run, from the lifecycle's samples.
  * Single queries give many samples a run and report their median. Builds,
  * batches and the join give one or two samples a measured round and
  * report the best: the JIT is still improving the code over the rounds
  * and a shared host's load only ever adds time, so the fastest sample is
  * the steadiest estimate of the warm cost. */
object EndToEnd {
  import Settings.Indexes

  def metrics(life: Lifecycle, setupS: Double): (Seq[Metric], Stats.Tail) = {
    def all(k: String): Seq[Double] =
      life.samples.get(k).map(_.toSeq).filter(_.nonEmpty)
        .getOrElse(throw new IllegalStateException(s"no samples for $k"))
    def med(k: String): Double = Stats.median(all(k))
    def best(k: String): Double = all(k).min
    val tail = Stats.tail(Indexes.flatMap(i => all(s"query_ms.$i")))
    val recall =
      if (life.shape.name == "simjoin") med("recall.join")
      else Indexes.map(i => med(s"recall.$i")).sum / Indexes.length
    val ms = Seq(Metric("setup_s", setupS, "s")) ++
      Indexes.map(i => Metric(s"build_s.$i", best(s"build_s.$i"), "s")) ++
      Indexes.map(i => Metric(s"query_p50_ms.$i", med(s"query_ms.$i"), "ms")) ++
      Seq(
        Metric("query_tail_ms", tail.value, "ms"),
        Metric("batch_qps", Indexes.length * Settings.Batch / Indexes.map(i => best(s"batch_s.$i")).sum,
          "queries/s"),
        Metric("recall_at_10", recall, "ratio"),
        Metric("join_s", best("join_s"), "s"))
    (ms, tail)
  }

  /** The write path's figures. It runs once, in traced runs only, so
    * these are per-layer metrics of `index`, not bounded end-to-end ones. */
  def writePath(life: Lifecycle): Seq[Metric] =
    Seq("add_visible_s" -> "s", "save_s" -> "s", "reopen_s" -> "s",
      "disk_bytes_per_vector_byte" -> "ratio").map { case (k, unit) =>
      Metric(s"index.$k", life.samples.get(k).flatMap(_.headOption)
        .getOrElse(throw new IllegalStateException(s"no samples for $k")), unit)
    }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"not a finite number: $d")
    java.lang.Double.toString(d)
  }

  def metrics(ms: Seq[Metric]): String =
    ms.map(m => s"${str(m.name)}: {${str("value")}: ${num(m.value)}, ${str("unit")}: ${str(m.unit)}}")
      .mkString("{", ", ", "}")

  /** The result line the harness reads. */
  def result(correct: Boolean, attempted: Long, failed: Long, ms: Seq[Metric]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": ${metrics(ms)}}"""
}
