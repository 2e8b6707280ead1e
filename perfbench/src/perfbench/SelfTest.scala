package perfbench

import scala.util.Try

/** The benchmark's own tests (no Spark session needed):
  *
  * {{{
  * python3 perfbench/run.py --selftest
  * }}}
  *
  * Prints one line per check and exits 1 if any fails. */
object SelfTest {
  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val pass = Try(ok).getOrElse(false)
    if (!pass) failures += 1
    println(s"${if (pass) "ok  " else "FAIL"} $name")
  }

  private def throws(f: => Any): Boolean = Try(f).isFailure

  def main(args: Array[String]): Unit = {
    inputs()
    percentile()
    selfTime()
    attribution()
    catalog()
    println(if (failures == 0) "all checks passed" else s"$failures checks failed")
    sys.exit(if (failures == 0) 0 else 1)
  }

  private val spec = CorpusSpec(rows = 600, dim = 64, centres = 4, noise = 0.12,
    queries = 20, dupGroups = 10, dupSize = 3, dupEps = 0.002)

  private def inputs(): Unit = {
    val a = new Corpus(spec, 7)
    val b = new Corpus(spec, 7)
    val c = new Corpus(spec, 8)
    check("same seed gives identical inputs") {
      a.fingerprint == b.fingerprint &&
        a.vectors.indices.forall(i => a.vectors(i).sameElements(b.vectors(i))) &&
        a.groups.map(_.toSeq).toSeq == b.groups.map(_.toSeq).toSeq
    }
    check("another seed gives other inputs") {
      a.fingerprint != c.fingerprint && !a.vectors(0).sameElements(c.vectors(0))
    }
    check("every Shape's corpus depends on the seed") {
      Shapes.All.forall(s => new Corpus(s.corpus, 1).fingerprint != new Corpus(s.corpus, 2).fingerprint)
    }
    check("vectors are unit length") {
      (a.vectors ++ a.queries).forall(v => math.abs(math.sqrt(Oracle.sqDist(v, new Array[Float](v.length))) - 1) < 1e-5)
    }
    check("planted groups: dupSize distinct rows, pairwise within the semdedup radius") {
      a.groups.length == spec.dupGroups && a.groups.forall(_.length == spec.dupSize) &&
        a.groups.flatten.distinct.length == spec.dupGroups * spec.dupSize &&
        a.groups.forall(g => g.combinations(2).forall { case Array(x, y) =>
          Oracle.sqDist(a.vectors(x.toInt), a.vectors(y.toInt)) / 2 < Settings.SemdedupMaxCos / 10
        })
    }
    check("unplanted rows are far apart (semdedup must keep them all)") {
      val planted = a.groups.flatten.toSet
      val free = a.vectors.indices.filterNot(i => planted(i.toLong))
      free.forall(i => free.forall(j => j <= i ||
        Oracle.sqDist(a.vectors(i), a.vectors(j)) / 2 > Settings.SemdedupMaxCos * 2))
    }
    check("queries are held out: no query equals a corpus row") {
      a.queries.forall(q => a.vectors.forall(v => !v.sameElements(q)))
    }
  }

  private def percentile(): Unit = {
    val xs = (1 to 100).map(_.toDouble)
    val t = Stats.tail(scala.util.Random.shuffle(xs))
    check("tail of 1..100 is p90 = 90 with n = 100") {
      t.value == 90.0 && t.percentile == 90.0 && t.n == 100
    }
    check("tail leaves exactly 10 samples beyond it on distinct samples") {
      val rnd = new scala.util.Random(3)
      (11 to 200 by 7).forall { n =>
        val s = Seq.fill(n)(rnd.nextDouble())
        val tl = Stats.tail(s)
        s.count(_ > tl.value) == 10 && tl.n == n && tl.percentile == 100.0 * (n - 10) / n
      }
    }
    check("tail of 11 samples is the minimum, at percentile 100/11") {
      val tl = Stats.tail((1 to 11).map(_.toDouble))
      tl.value == 1.0 && math.abs(tl.percentile - 100.0 / 11) < 1e-12
    }
    check("tail refuses 10 samples or fewer") { throws(Stats.tail((1 to 10).map(_.toDouble))) }
    check("median of odd and even counts") {
      Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5
    }
  }

  private def selfTime(): Unit = {
    val s = Span(1, "s", 0, 1, 0, 100)
    check("self time without children is the span") { TraceMath.selfTime(s, Nil) == 100 }
    check("overlapping children count once") {
      TraceMath.selfTime(s, Seq((10L, 20L), (15L, 30L))) == 80
    }
    check("children are clipped to the span") {
      TraceMath.selfTime(s, Seq((-50L, 5L), (90L, 120L))) == 85
    }
    check("nested and duplicate children") {
      TraceMath.selfTime(s, Seq((10L, 60L), (20L, 30L), (10L, 60L))) == 50
    }
    check("a child covering the span leaves no self time") {
      TraceMath.selfTime(s, Seq((0L, 100L), (40L, 50L))) == 0
    }
    check("children outside the span do not count") {
      TraceMath.selfTime(s, Seq((100L, 200L), (-20L, 0L))) == 100
    }
  }

  private def attribution(): Unit = {
    // root 1 [0, 1000] ⊃ A 2 [100, 200] ⊃ C 4 [120, 150]; B 3 [300, 400]
    val spans = Seq(Span(1, "root", 0, 1, 0, 1000), Span(2, "A", 1, 2, 100, 200),
      Span(3, "B", 1, 3, 300, 400), Span(4, "C", 2, 2, 120, 150))
    val depth = TraceMath.depths(spans)
    def at(label: Option[Int], t: Long) = TraceMath.attribute(spans, depth, label, t, 0)
    check("depths follow the parent chain") { depth == Map(1 -> 0, 2 -> 1, 3 -> 1, 4 -> 2) }
    check("an unlabelled job goes to the innermost open span") { at(None, 130).contains(4) }
    check("an unlabelled job between siblings goes to their parent") { at(None, 250).contains(1) }
    check("a label naming an open span is trusted") { at(Some(2), 140).contains(2) }
    check("a stale label (its span closed) falls back to containment") { at(Some(2), 350).contains(3) }
    check("an unknown label falls back to containment") { at(Some(99), 350).contains(3) }
    check("a job outside every span is unattributed") { at(None, 2000).isEmpty }
    check("slack widens the window at span edges") {
      TraceMath.attribute(spans, depth, None, 401, 5).contains(3)
    }
    check("a trace log rolls jobs up to their spans") {
      // the same tree in milliseconds, the listener clock's resolution
      val ms = 1000000L
      val msSpans = spans.map(s => s.copy(start = s.start * ms, end = s.end * ms))
      val j1 = new JobRec(1, 130 * ms, None); j1.end = 140 * ms
      val j2 = new JobRec(2, 350 * ms, Some(2)); j2.end = 390 * ms
      val log = TraceLog(msSpans.toVector, Vector(j1, j2), Vector(QeRec(310 * ms, 7)))
      log.jobSpan == Map(1 -> 4, 2 -> 3) &&
        log.jobsUnder(2).map(_.jobId) == Vector(1) &&
        log.selfNs(msSpans(3)) == 20 * ms && log.driverGapNs(msSpans(1)) == 90 * ms &&
        log.driverGapNs(msSpans(0)) == (1000 - 10 - 40) * ms &&
        log.planningMsUnder(3) == 7 && log.planningMsUnder(1) == 7 && log.planningMsUnder(2) == 0
    }
  }

  private def catalog(): Unit = {
    val file = new java.io.File("BENCHMARK.json")
    check("BENCHMARK.json declares exactly the metrics a run reports") {
      val text = new String(java.nio.file.Files.readAllBytes(file.toPath), "UTF-8")
      def names(section: String): Seq[String] = {
        val body = text.split("\"" + section + "\"")(1).takeWhile(_ != ']')
        "\"name\":\\s*\"([^\"]+)\"".r.findAllMatchIn(body).map(_.group(1)).toSeq
      }
      names("end_to_end") == Catalog.EndToEnd && names("per_layer") == Catalog.PerLayer &&
        names("workloads") == Shapes.All.map(_.name)
    }
    check("the result line has exactly the four keys") {
      Json.result(true, 3, 0, Seq(Metric("a.b", 1.5, "s"))) ==
        """{"correct": true, "attempted": 3, "failed": 0, "metrics": {"a.b": {"value": 1.5, "unit": "s"}}}"""
    }
    check("a non-finite metric is refused") { throws(Json.num(Double.NaN)) }
  }
}
