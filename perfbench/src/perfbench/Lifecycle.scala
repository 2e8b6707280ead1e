package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.index.{HNSW, HNSWGraph, IVFFlat, LSHForest}
import graft.operators.{Dedup, Exhaustive}

/** One workload run over the public API of `graft.index` and
  * `graft.operators`: set-up (corpus, frames, exact truth), then the
  * measured lifecycle. Every call into the program is one attempted
  * operation, timed from outside and wrapped in a span; an exception or
  * a failed check makes it a failed operation. */
final class Lifecycle(spark: SparkSession, val shape: Shape, seed: Long,
                      tracer: Tracer, workDir: File, cores: Int) {
  import spark.implicits._
  import Settings._

  def seedValue: Long = seed

  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** off during the warm-up rounds */
  private var recording = true
  def record(metric: String, v: Double): Unit =
    if (recording) samples.getOrElseUpdate(metric, mutable.ArrayBuffer.empty) += v

  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]

  /** Run one operation in a span named `name`; `verify` lists what is
    * wrong with its result. Returns the result and its seconds, or None
    * when it threw. */
  def op[A](name: String)(body: => A)(verify: A => Seq[String] = (_: A) => Nil): Option[(A, Double)] = {
    attempted += 1
    val t0 = System.nanoTime()
    val out = try Some(tracer.span(name, request = true)(body)) catch {
      case NonFatal(e) =>
        failed += 1
        problems += s"$name threw $e"
        None
    }
    val secs = (System.nanoTime() - t0) / 1e9
    out.map { a =>
      val wrong = try verify(a) catch { case NonFatal(e) => Seq(s"check threw $e") }
      if (wrong.nonEmpty) {
        failed += 1
        problems ++= wrong.take(3).map(w => s"$name: $w")
      }
      (a, secs)
    }
  }

  /** Like [[op]], but the run cannot go on without the result. */
  private def must[A](name: String)(body: => A): (A, Double) =
    op(name)(body)().getOrElse(
      throw new IllegalStateException(s"$name failed: ${problems.lastOption.getOrElse("")}"))

  // ---------------------------------------------------------------- set-up

  var corpus: Corpus = _
  var buildDF: DataFrame = _
  private var queriesDF: DataFrame = _
  /** qid → exact top-k ids against the build set */
  private var truth: Map[Long, Seq[Long]] = Map.empty
  private var buildVecs: Array[Array[Float]] = _
  /** build-set ids whose self-join rows the join recall is scored on */
  private var joinSample: Array[Long] = _
  private val JoinQid = 1L << 40
  /** query × corpus pairs the exact truth scores */
  var truthPairs = 0L
  /** files and bytes of the IVFFlat save */
  var ivfSave: Option[(Int, Long)] = None

  /** One set-up: generate the corpus, cache the build frame, compute the
    * exact truth with Exhaustive.knnJoin and cross-check a sample of it
    * with a driver loop. Returns its seconds. */
  def setUp(): Double = tracer.span("setup", request = true) {
    val t0 = System.nanoTime()
    if (buildDF != null) buildDF.unpersist(blocking = true)
    corpus = new Corpus(shape.corpus, seed)
    buildVecs = corpus.vectors.take(shape.buildRows)
    buildDF = buildVecs.indices.map(i => (i.toLong, buildVecs(i))).toDF("id", "vector")
      .repartition(cores).cache()
    buildDF.count()
    queriesDF = batchQueries.indices.map(i => (i.toLong, batchQueries(i))).toDF("qid", "qvec")
    val stride = math.max(1, buildVecs.length / JoinSample)
    joinSample = Array.tabulate(JoinSample)(i => (i * stride).toLong)
    val truthQ = (batchQueries.indices.map(i => (i.toLong, batchQueries(i))) ++
      joinSample.map(id => (JoinQid + id, buildVecs(id.toInt)))).toDF("qid", "qvec")
    truthPairs = (batchQueries.length + joinSample.length).toLong * buildVecs.length
    val (exact, _) = must("operators.Exhaustive.knnJoin") {
      Exhaustive.knnJoin(truthQ, "qid", "qvec", buildDF, "id", "vector", K).collect()
    }
    truth = exact.groupBy(_.getLong(0)).map { case (q, rows) =>
      q -> rows.sortBy(r => (r.getDouble(2), r.getLong(1))).map(_.getLong(1)).toSeq
    }
    op("oracle.driverLoop")(oracleSample()) { mismatches => mismatches }
    (System.nanoTime() - t0) / 1e9
  }

  def batchQueries: Array[Array[Float]] = corpus.queries.take(Batch)

  /** Driver-side brute force (plain loops, no graft.functions) on a few
    * truth queries; returns every disagreement with Exhaustive.knnJoin. */
  private def oracleSample(): Seq[String] = {
    val picks = (0 until OracleSample / 2).map(i => (i.toLong, batchQueries(i))) ++
      joinSample.take(OracleSample - OracleSample / 2)
        .map(id => (JoinQid + id, buildVecs(id.toInt)))
    picks.flatMap { case (qid, q) =>
      val want = Oracle.topK(buildVecs, q, K)
      val got = truth.getOrElse(qid, Nil)
      if (got == want) None else Some(s"qid $qid: exhaustive $got vs oracle $want")
    }
  }

  // ------------------------------------------------------------ lifecycle

  var ivf: IVFFlat.Model = _
  var lsh: LSHForest.Model = _
  var hnsw: HNSW.Model = _
  /** the last batch results per index: what the reloaded index must
    * return */
  private val lastBatch = mutable.Map.empty[String, Array[Row]]
  private var round = 0

  /** The warm-up: `WarmUpRounds` untimed rounds on the set-up's frames,
    * so that the measured rounds run on JIT-compiled code and Spark's
    * codegen cache. Its operations are checked like any other; its
    * samples are dropped. Returns its seconds (part of set-up time). */
  def warmUp(): Double = tracer.span("warmup", request = true) {
    val t0 = System.nanoTime()
    recording = false
    try for (_ <- 1 to WarmUpRounds) measuredRound(0) finally recording = true
    (System.nanoTime() - t0) / 1e9
  }

  /** The measured part: `rounds` rounds, each building the three indexes
    * afresh and then running the single queries, the batches and the
    * join, so that each end-to-end metric has a sample in every round.
    * A traced run then takes the write path once on the last round's
    * indexes: add + probe, save + reopen (per-layer metrics and their
    * correctness checks). */
  def run(rounds: Int): Unit = tracer.span("workload." + shape.name, request = true) {
    for (r <- 1 to rounds) {
      val t0 = System.nanoTime()
      measuredRound(r)
      roundSeconds += (System.nanoTime() - t0) / 1e9
    }
    if (tracer.enabled) tracer.span("round") {
      for (p <- Phase.Once) runPhase(p)
    }
  }

  /** wall seconds of each measured round */
  val roundSeconds = mutable.ArrayBuffer.empty[Double]

  private def measuredRound(r: Int): Unit = tracer.span("round") {
    round = r
    for (p <- Phase.Measured) runPhase(p)
  }

  private def runPhase(p: Phase): Unit = tracer.span("phase." + p.name)(p match {
    case Phase.Build => builds()
    case Phase.Single => singles()
    case Phase.Batch => batches()
    case Phase.Join => join()
    case Phase.Add => adds()
    case Phase.Persist => persist()
  })

  private def builds(): Unit = {
    val (i, ti) = must("index.IVFFlat.build") {
      IVFFlat.build(buildDF, "id", "vector",
        IVFFlat.Params(IvfCells, numAttempts = 1, maxIterations = IvfIterations, seed = seed))
    }
    val (l, tl) = must("index.LSHForest.build") {
      LSHForest.build(buildDF, "id", "vector",
        LSHForest.Params(numTrees = LshTrees, maxNodeSize = LshLeaf, seed = seed))
    }
    // the HNSW build is the shortest (about half a second), so a measured
    // round takes more than one sample of it; the last model is served
    val hs = (1 to (if (recording) HnswBuilds else 1)).map(_ => must("index.HNSW.build") {
      HNSW.build(buildDF, "id", "vector",
        HNSWGraph.Params(m = HnswM, efSearch = HnswEf, seed = seed), cores)
    })
    record("build_s.ivfflat", ti); record("build_s.lsh", tl)
    hs.foreach { case (_, th) => record("build_s.hnsw", th) }
    ivf = i; lsh = l; hnsw = hs.last._1
  }

  private val SpanOf = Map("ivfflat" -> "index.IVFFlat", "lsh" -> "index.LSHForest",
    "hnsw" -> "index.HNSW")

  private def model(idx: String): Any = idx match {
    case "ivfflat" => ivf
    case "lsh" => lsh
    case "hnsw" => hnsw
  }

  private def search(m: Any, q: Array[Float]): Array[Row] = (m: @unchecked) match {
    case x: IVFFlat.Model => x.search(q, K).collect()
    case x: LSHForest.Model => x.search(q, K).collect()
    case x: HNSW.Model => x.search(q, K).collect()
  }

  private def searchMany(m: Any, qs: DataFrame, k: Int): Array[Row] = (m: @unchecked) match {
    case x: IVFFlat.Model => x.searchMany(qs, "qid", "qvec", k, IvfNprobe).collect()
    case x: LSHForest.Model => x.searchMany(qs, "qid", "qvec", k).collect()
    case x: HNSW.Model => x.searchMany(qs, "qid", "qvec", k).collect()
  }

  /** `shape.singles` queries per index; one in the warm-up */
  private def singles(): Unit = {
    val pool = corpus.queries
    val n = if (recording) shape.singles else 1
    for (i <- 0 until n; idx <- Indexes) {
      val q = pool((round * shape.singles + i) % pool.length)
      op(SpanOf(idx) + ".search")(search(model(idx), q)) { rows =>
        val d = rows.map(_.getDouble(1))
        (if (rows.length != K) Seq(s"${rows.length} rows, want $K") else Nil) ++
          (if (d.indices.drop(1).exists(j => d(j - 1) > d(j))) Seq("distances not ascending") else Nil)
      }.foreach { case (_, s) => record(s"query_ms.$idx", s * 1000) }
    }
  }

  /** qid → results ascending by (distance, id) */
  private def byQuery(rows: Array[Row]): Map[Long, Seq[(Long, Double)]] =
    rows.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.map(r => (r.getLong(1), r.getDouble(2))).sortBy(t => (t._2, t._1)).toSeq
    }

  private def recall(got: Map[Long, Seq[(Long, Double)]], qids: Seq[Long],
                     truthOf: Long => Long): Double = {
    val per = qids.map { q =>
      val want = truth(truthOf(q)).toSet
      got.getOrElse(q, Nil).count(t => want(t._1)).toDouble / want.size
    }
    per.sum / per.length
  }

  private def batch(idx: String, m: Any, verify: Array[Row] => Seq[String]): Option[(Array[Row], Double)] =
    op(SpanOf(idx) + ".searchMany")(searchMany(m, queriesDF, K))(verify)

  private def batches(): Unit = for (idx <- Indexes) {
    batch(idx, model(idx), { rows =>
      val rc = recall(byQuery(rows), batchQueries.indices.map(_.toLong), identity)
      record(s"recall.$idx", rc)
      if (rc < RecallFloor(idx)) Seq(f"recall@10 $rc%.3f below floor ${RecallFloor(idx)}") else Nil
    }).foreach { case (rows, s) =>
      record(s"batch_s.$idx", s)
      lastBatch(idx) = rows
    }
  }

  /** Add the held-out rows to each index and probe for every one of
    * them. The grown models are probed, then dropped: save and reopen
    * work on the indexes as built. */
  private def adds(): Unit = {
    val rows = (shape.buildRows until shape.corpus.rows).map(i => (i.toLong, corpus.vectors(i)))
    val addDF = rows.toDF("id", "vector")
    val probeDF = rows.toDF("qid", "qvec")
    var total = 0.0
    def visible(tol: Double)(res: Array[Row]): Seq[String] = {
      val top = byQuery(res)
      rows.flatMap { case (id, _) =>
        top.get(id).flatMap(_.headOption) match {
          case Some((hit, d)) if hit == id && math.abs(d) <= tol => None
          case other => Some(s"added $id came back as $other")
        }
      }
    }
    for (idx <- Indexes) {
      op(SpanOf(idx) + ".add")(model(idx) match {
        case m: IVFFlat.Model => m.add(addDF, "id", "vector")
        case m: LSHForest.Model => m.add(addDF, "id", "vector")
        case m: HNSW.Model => m.add(addDF, "id", "vector")
      })().foreach { case (m, ta) =>
        // the added vector itself: distance exactly 0 under sqdist, and
        // 1 − ‖v̂‖² (float rounding only) under HNSW's cosine distance
        val tol = if (idx == "hnsw") 1e-5 else 0.0
        op(SpanOf(idx) + ".probe")(searchMany(m, probeDF, 1))(visible(tol))
          .foreach { case (_, tp) => total += ta + tp }
      }
    }
    record("add_visible_s", total)
  }

  /** Save each index, reload it, answer one query, then check that a
    * batch on the reloaded index (read from Parquet, never warmed) equals
    * the first batch. */
  private def persist(): Unit = {
    val dir = new File(workDir, s"idx/r$round")
    var saveS = 0.0
    var reopenS = 0.0
    var bytes = 0L
    val q0 = corpus.queries(round % corpus.queries.length)
    for (idx <- Indexes) {
      val path = new File(dir, idx).getPath
      op(SpanOf(idx) + ".save")(model(idx) match {
        case m: IVFFlat.Model => m.save(path)
        case m: LSHForest.Model => m.save(path)
        case m: HNSW.Model => m.save(path)
      })().foreach { case (_, s) => saveS += s }
      val files = Files.dataFiles(new File(path))
      bytes += files.map(_.length).sum
      if (idx == "ivfflat") ivfSave = Some((files.size, files.map(_.length).sum))
      op(SpanOf(idx) + ".load") {
        val m: Any = idx match {
          case "ivfflat" => IVFFlat.load(spark, path)
          case "lsh" => LSHForest.load(spark, path)
          case "hnsw" => HNSW.load(spark, path)
        }
        (m, search(m, q0))
      } { case (_, first) => if (first.length == K) Nil else Seq(s"first query gave ${first.length} rows") }
        .foreach { case ((m, _), s) =>
          reopenS += s
          batch(idx, m, rows => lastBatch.get(idx).toSeq.flatMap { pre =>
            if (byQuery(pre) == byQuery(rows)) Nil
            else Seq("reloaded batch differs from the batch before the save")
          })
        }
    }
    record("save_s", saveS)
    record("reopen_s", reopenS)
    record("disk_bytes_per_vector_byte",
      bytes.toDouble / (Indexes.length * shape.buildRows * shape.corpus.dim * 4.0))
    Files.delete(dir)
  }

  private def join(): Unit = {
    var total = 0.0
    op("index.IVFFlat.knnJoin") {
      ivf.knnJoin(buildDF, "id", "vector", K, JoinNprobe).collect()
    } { rows =>
      val got = byQuery(rows.filter(r => joinSample.contains(r.getLong(0))))
      val rc = recall(got, joinSample.toSeq, JoinQid + _)
      record("recall.join", rc)
      if (rc < RecallFloor("join")) Seq(f"join recall@10 $rc%.3f below floor") else Nil
    }.foreach { case (_, s) => total += s }
    op("operators.Dedup.semdedup") {
      Dedup.semdedup(buildDF, "id", "vector", ivf.centroids, SemdedupMaxCos)
        .select("id").as[Long].collect()
    }(survivors => semdedupProblems(survivors.toSet)).foreach { case (_, s) => total += s }
    record("join_s", total)
  }

  /** Exactly one survivor (the lowest id) per planted group present in
    * the build set, and every other row kept. */
  private def semdedupProblems(kept: Set[Long]): Seq[String] = {
    val n = buildVecs.length.toLong
    val groups = corpus.groups.map(_.filter(_ < n)).filter(_.length >= 2)
    val grouped = groups.flatten.toSet
    val lostOther = (0L until n).filter(id => !grouped(id) && !kept(id))
    val badGroups = groups.filter(g => g.filter(kept).toSeq != Seq(g.min))
    (if (lostOther.nonEmpty) Seq(s"dropped ${lostOther.size} unplanted rows, e.g. ${lostOther.take(3)}") else Nil) ++
      (if (badGroups.nonEmpty) Seq(s"${badGroups.length} planted groups without exactly their first row kept") else Nil)
  }
}

/** Plain-loop exact search: the oracle the truth is checked against. */
object Oracle {
  def sqDist(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
    s
  }

  /** ids of the k nearest rows, ascending by (distance, id) */
  def topK(rows: Array[Array[Float]], q: Array[Float], k: Int): Seq[Long] =
    rows.indices.map(i => (sqDist(rows(i), q), i.toLong)).sorted.take(k).map(_._2)
}

object Files {
  /** Data files under `dir` (Hadoop .crc side files and _SUCCESS
    * markers excluded). */
  def dataFiles(dir: File): Seq[File] =
    Option(dir.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) dataFiles(f)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
      else Seq(f)
    }

  def delete(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }
}
