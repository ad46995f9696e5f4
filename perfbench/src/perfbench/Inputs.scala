package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators, written in the benchmark's own code so that no
  * change to the program can change the inputs. The same seed always gives
  * the same inputs; every seed gives the same sizes, so item counts do not
  * depend on the seed.
  */
object Inputs {

  /** An independent generator per (seed, stream). The start value goes
    * through a 64-bit finalizer: SplittableRandom's own sequence is an
    * arithmetic progression, so linearly related start values would give
    * nearby seeds overlapping streams.
    */
  private def rng(seed: Long, stream: Long) = {
    var z = seed * 0x9E3779B97F4A7C15L + stream
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    new SplittableRandom(z ^ (z >>> 31))
  }

  /** Fisher-Yates permutation of 0 until n. */
  def permutation(n: Int, r: SplittableRandom): Array[Int] = {
    val p = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = p(i); p(i) = p(j); p(j) = t
      i -= 1
    }
    p
  }

  // ---------------------------------------------------------------- vectors

  /** Base vectors (ids 0 until n) with a label in 0 until `labels`, and
    * query vectors (ids 0 until nq). Vectors are Gaussian clusters with a
    * per-vector scale, so cosine and L2 order neighbours differently.
    */
  final case class Vectors(base: Array[Array[Float]], labels: Array[Int],
      queries: Array[Array[Float]], filterLabel: Int)

  def vectors(seed: Long, n: Int, dim: Int, nq: Int, labels: Int): Vectors = {
    val r = rng(seed, 1)
    val centroids = Array.fill(32)(Array.fill(dim)(r.nextDouble() * 2 - 1))
    def draw(): Array[Float] = {
      val c = centroids(r.nextInt(centroids.length))
      val scale = 0.5 + 1.5 * r.nextDouble()
      Array.tabulate(dim)(i => ((c(i) + 0.35 * gaussian(r)) * scale).toFloat)
    }
    val base = Array.fill(n)(draw())
    val lab = Array.fill(n)(r.nextInt(labels))
    val queries = Array.fill(nq)(draw())
    Vectors(base, lab, queries, r.nextInt(labels))
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller; one draw per call keeps the stream order simple
    val u = 1.0 - r.nextDouble()
    val v = r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * v)
  }

  // ------------------------------------------------------------------ graph

  /** Directed graph: every node has `outDeg` distinct out-edges, no
    * self-loops; targets follow a skewed (power-law-like) in-degree. The
    * 2·outDeg top hubs link to each other as a clique, which fixes the
    * maximum coreness (2·outDeg − 1) for every seed, so the number of
    * coreness levels, and with it the work per pass, does not depend on
    * the seed. Node ids are a seeded scatter of 0 until n.
    * `seedIds`/`seedLabels` are the label-propagation seeds (about 2% of
    * nodes, labels 0 or 1).
    */
  final case class Graph(ids: Array[Long], src: Array[Long], dst: Array[Long],
      seedIds: Array[Long], seedLabels: Array[Double])

  def graph(seed: Long, n: Int, outDeg: Int): Graph = {
    val r = rng(seed, 2)
    val ids = permutation(n, r).map(i => i.toLong * 7 + 3)
    val clique = 2 * outDeg
    val src = new Array[Long](n * outDeg)
    val dst = new Array[Long](n * outDeg)
    var e = 0
    var u = 0
    while (u < n) {
      val chosen = mutable.HashSet[Int]()
      // the clique: hub u links to the next outDeg hubs (mod clique size)
      if (u < clique) (1 to outDeg).foreach(d => chosen += (u + d) % clique)
      while (chosen.size < outDeg) {
        val v = math.min(n - 1, (n * math.pow(r.nextDouble(), 2.5)).toInt)
        if (v != u) chosen += v
      }
      chosen.toSeq.sorted.foreach { v =>
        src(e) = ids(u); dst(e) = ids(v); e += 1
      }
      u += 1
    }
    val nSeeds = math.max(2, n / 50)
    val seedIdx = permutation(n, r).take(nSeeds)
    Graph(ids, src, dst, seedIdx.map(ids(_)),
      seedIdx.indices.map(i => (i % 2).toDouble).toArray)
  }

  // ----------------------------------------------------------------- corpus

  /** A corpus of ~300-character documents of random words, with planted
    * structure: exact copies of documents, near-duplicates (one word
    * replaced), and shared spans of 8-12 words (at least 40 characters)
    * each inserted into a few documents. Both arrays are indexed by
    * document id (0 until n); `family(id)` is the id of the original the
    * document derives from (itself for originals). Documents of different
    * families share no 3-word shingle except through a span.
    */
  final case class Corpus(texts: Array[String], family: Array[Int])

  def corpus(seed: Long, n: Int): Corpus = {
    val r = rng(seed, 3)
    val vocab = {
      val s = mutable.LinkedHashSet[String]()
      while (s.size < 8192) s += Array.fill(3 + r.nextInt(6))(('a' + r.nextInt(26)).toChar).mkString
      s.toArray
    }
    def words(k: Int): Array[String] = Array.fill(k)(vocab(r.nextInt(vocab.length)))
    val nCopies = n / 20
    val nNear = n / 20
    val nOrig = n - nCopies - nNear
    val spans = Array.fill(math.max(1, n / 200)) {
      var s = words(8 + r.nextInt(5))
      while (s.mkString(" ").length < 40) s = s :+ vocab(r.nextInt(vocab.length))
      s
    }
    val docs = new Array[Array[String]](n)
    val family = new Array[Int](n)
    var i = 0
    while (i < nOrig) {
      val w = words(46 + r.nextInt(9))
      if (r.nextInt(10) == 0) {
        val span = spans(r.nextInt(spans.length))
        val at = r.nextInt(w.length - span.length)
        System.arraycopy(span, 0, w, at, span.length)
      }
      docs(i) = w; family(i) = i; i += 1
    }
    val picks = permutation(nOrig, r)
    (0 until nCopies).foreach { j =>
      val o = picks(j)
      docs(nOrig + j) = docs(o); family(nOrig + j) = o
    }
    (0 until nNear).foreach { j =>
      val o = picks(nCopies + j)
      val w = docs(o).clone()
      val at = r.nextInt(w.length)
      var repl = vocab(r.nextInt(vocab.length))
      while (repl == w(at)) repl = vocab(r.nextInt(vocab.length))
      w(at) = repl
      docs(nOrig + nCopies + j) = w; family(nOrig + nCopies + j) = o
    }
    // scatter ids so that copies are not always the higher id
    val idOf = permutation(n, r)
    val texts = new Array[String](n)
    val fam = new Array[Int](n)
    (0 until n).foreach { k =>
      texts(idOf(k)) = docs(k).mkString(" ")
      fam(idOf(k)) = idOf(family(k))
    }
    Corpus(texts, fam)
  }
}
