package perfbench

/** One workload: its corpus and how many single queries a round runs.
  *
  * Both workloads run the same schedule, so each end-to-end metric has a
  * value on every workload: a warm-up round (part of set-up), then R
  * measured rounds of the read path (build the three indexes, single
  * queries, batches, self-join + semdedup); a traced run then takes the
  * write path (add + probe, save + reopen) once. R is a function of
  * `--seconds` alone (`seconds / RoundSeconds`, at least 1), never of how
  * fast the rounds run, so the work — and the sample count behind each
  * median and percentile — is the same on every commit. The indexes are
  * built on all rows but the last `AddRows`, which the write path adds
  * and probes for.
  *
  * @param singles single queries per index in a round
  */
final case class Shape(name: String, corpus: CorpusSpec, singles: Int) {
  def buildRows: Int = corpus.rows - Settings.AddRows
  def rounds(seconds: Double): Int =
    math.max(1, math.round(seconds / Settings.RoundSeconds).toInt)
}

sealed abstract class Phase(val name: String)
object Phase {
  case object Build extends Phase("build")
  case object Single extends Phase("single")
  case object Batch extends Phase("batch")
  case object Join extends Phase("join")
  case object Add extends Phase("add")
  case object Persist extends Phase("persist")
  /** what the warm-up and every measured round run */
  val Measured: Seq[Phase] = Seq(Build, Single, Batch, Join)
  /** what runs once, after the measured rounds */
  val Once: Seq[Phase] = Seq(Add, Persist)
}

/** Index and check settings shared by all workloads: IVF 64 cells, LSH
  * 8 trees with leaves ≤ 256, HNSW m 16 / ef 64 with one shard per core. */
object Settings {
  val Indexes = Seq("ivfflat", "lsh", "hnsw")
  val K = 10
  /** queries per `searchMany` batch */
  val Batch = 256
  val AddRows = 40
  /** nominal seconds of one measured round on 4 cores */
  val RoundSeconds = 10.0
  val IvfCells = 64
  /** one k-means attempt of at most 8 Lloyd iterations (Params defaults:
    * 3 attempts × 20) keeps a round inside a run's time box */
  val IvfIterations = 8
  val IvfNprobe = 2     // searchMany default
  val JoinNprobe = 4    // graph-build setting for knnJoin
  val LshTrees = 8
  val LshLeaf = 256
  val HnswM = 16
  /** HNSW builds in a measured round */
  val HnswBuilds = 2
  val HnswEf = 64
  val SemdedupMaxCos = 0.02
  /** sampled qids for join recall and the driver-side oracle */
  val JoinSample = 64
  val OracleSample = 4
  /** untimed rounds before the measured ones (part of set-up) */
  val WarmUpRounds = 1
  /** set-up repetitions behind the setup_s median */
  val SetupReps = 3
  /** recall@10 floors: a batch or join below its floor is a wrong answer */
  val RecallFloor: Map[String, Double] =
    Map("ivfflat" -> 0.80, "lsh" -> 0.60, "hnsw" -> 0.80, "join" -> 0.80)
}

object Shapes {
  private def spec(rows: Int, groups: Int, size: Int) =
    CorpusSpec(rows = rows, dim = 64, centres = 32, noise = 0.12,
      queries = Settings.Batch, dupGroups = groups, dupSize = size, dupEps = 0.002)

  /** read-only serving: per-query fixed cost dominates */
  val Serve = Shape("serve", spec(2000, 16, 2), singles = 4)

  /** bulk self-join + semdedup over planted ε-duplicate groups: the
    * distance kernel, TopK aggregation and shuffle dominate */
  val Simjoin = Shape("simjoin", spec(1600, 100, 3), singles = 4)

  val All: Seq[Shape] = Seq(Serve, Simjoin)
  def byName(n: String): Option[Shape] = All.find(_.name == n)
}
