package perfbench

/** Shape of one seeded synthetic corpus.
  *
  * @param rows      corpus rows, planted duplicates included
  * @param dim       vector dimension
  * @param centres   number of generating cluster centres
  * @param noise     per-coordinate Gaussian noise added to a unit centre
  * @param queries   held-out query draws from the same generator
  * @param dupGroups planted ε-duplicate groups
  * @param dupSize   rows per planted group (the original plus its copies)
  * @param dupEps    per-coordinate noise of a planted copy
  */
final case class CorpusSpec(rows: Int, dim: Int, centres: Int, noise: Double,
                            queries: Int, dupGroups: Int, dupSize: Int,
                            dupEps: Double) {
  require(dupGroups * dupSize <= rows, "planted groups exceed the corpus")
}

/** Clustered unit vectors: a point is normalize(centre + noise·N(0, 1)),
  * centres are normalized Gaussian draws (the AnnScaleSmoke recipe).
  * Queries are further draws from the same mixture, never corpus rows.
  * Planted groups are an original row plus `dupSize − 1` copies
  * normalize(original + dupEps·N(0, 1)); row order is a seeded
  * permutation, so the group members' ids are scattered. Row id = array
  * position. Everything is a pure function of (spec, seed). */
final class Corpus(val spec: CorpusSpec, val seed: Long) {
  import Corpus._

  private val rnd = new java.util.Random(mix64(seed ^ 0x5DEECE66DL))

  private val centreVecs: Array[Array[Double]] =
    Array.fill(spec.centres)(unit(Array.fill(spec.dim)(rnd.nextGaussian())))

  private def draw(): Array[Float] = {
    val c = centreVecs(rnd.nextInt(spec.centres))
    toUnitFloat(Array.tabulate(spec.dim)(j => c(j) + spec.noise * rnd.nextGaussian()))
  }

  /** (vectors, planted groups as id arrays, ascending). */
  private val (vecs, planted): (Array[Array[Float]], Array[Array[Long]]) = {
    val copies = spec.dupGroups * (spec.dupSize - 1)
    val base = Array.fill(spec.rows - copies)(draw())
    val dupes = Array.newBuilder[Array[Float]]
    val origin = Array.newBuilder[Int] // base index each copy derives from
    for (g <- 0 until spec.dupGroups; _ <- 1 until spec.dupSize) {
      val o = base(g)
      dupes += toUnitFloat(Array.tabulate(spec.dim)(j =>
        o(j).toDouble + spec.dupEps * rnd.nextGaussian()))
      origin += g
    }
    val all = base ++ dupes.result()
    val perm = shuffled(all.length, rnd) // perm(newPos) = oldPos
    val posOf = new Array[Int](all.length)
    perm.indices.foreach(p => posOf(perm(p)) = p)
    val orig = origin.result()
    val groups = Array.tabulate(spec.dupGroups) { g =>
      val members = (g +: orig.indices.filter(orig(_) == g).map(i => base.length + i))
      members.map(m => posOf(m).toLong).sorted.toArray
    }
    (perm.map(all), groups)
  }

  val queries: Array[Array[Float]] = Array.fill(spec.queries)(draw())

  def vectors: Array[Array[Float]] = vecs
  def groups: Array[Array[Long]] = planted

  /** Order-sensitive digest of every generated float and group id. */
  def fingerprint: Long = {
    var h = 1125899906842597L
    def mixIn(x: Long): Unit = h = mix64(h * 31 + x)
    (vecs.iterator ++ queries.iterator).foreach(_.foreach(f =>
      mixIn(java.lang.Float.floatToRawIntBits(f).toLong)))
    planted.foreach(_.foreach(mixIn))
    h
  }
}

object Corpus {
  def mix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  private def toUnitFloat(v: Array[Double]): Array[Float] = unit(v).map(_.toFloat)

  /** Fisher–Yates permutation of 0 until n. */
  private def shuffled(n: Int, rnd: java.util.Random): Array[Int] = {
    val a = Array.range(0, n)
    var i = n - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }
}
