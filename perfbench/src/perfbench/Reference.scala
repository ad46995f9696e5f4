package perfbench

import scala.collection.mutable

/** Plain-Scala references computed on the driver, outside the timed
  * passes. Each one implements the operator's documented contract
  * directly, with no Spark and none of the program's code.
  */
object Reference {

  // ---------------------------------------------------------------- vectors

  /** Distance with the program's documented arithmetic: float components
    * widened to double, accumulated left to right.
    */
  def distance(a: Array[Float], b: Array[Float], metric: String): Double = metric match {
    case "COSINE" =>
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      if (na == 0.0 || nb == 0.0) 1.0 else 1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
    case "L2" =>
      var s = 0.0
      var i = 0
      while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
      math.sqrt(s)
  }

  /** The k smallest distances from `q` to the base rows accepted by `keep`,
    * ascending.
    */
  def topKDistances(q: Array[Float], base: Array[Array[Float]], keep: Int => Boolean,
      metric: String, k: Int): Array[Double] = {
    val heap = mutable.PriorityQueue.empty[Double] // max-heap of the best k
    var i = 0
    while (i < base.length) {
      if (keep(i)) {
        val d = distance(q, base(i), metric)
        if (heap.size < k) heap.enqueue(d)
        else if (d < heap.head) { heap.dequeue(); heap.enqueue(d) }
      }
      i += 1
    }
    heap.toArray.sorted
  }

  // ------------------------------------------------------------------ graph

  final class Adjacency(val ids: Array[Long], val out: Array[Array[Int]]) {
    val n: Int = ids.length
  }

  /** Distinct directed edges over the dense index of src ∪ dst. */
  def adjacency(src: Array[Long], dst: Array[Long]): Adjacency = {
    val ids = (src ++ dst).distinct.sorted
    val index = ids.zipWithIndex.toMap
    val out = Array.fill(ids.length)(mutable.LinkedHashSet[Int]())
    src.indices.foreach(e => out(index(src(e))) += index(dst(e)))
    new Adjacency(ids, out.map(_.toArray))
  }

  /** One damped PageRank update with uniform teleport and dangling mass. */
  private def pageRankStep(g: Adjacency, r: Array[Double], d: Double): Array[Double] = {
    val n = g.n
    val next = new Array[Double](n)
    var dangling = 0.0
    var u = 0
    while (u < n) {
      val o = g.out(u)
      if (o.isEmpty) dangling += r(u)
      else { val c = r(u) / o.length; o.foreach(v => next(v) += c) }
      u += 1
    }
    Array.tabulate(n)(v => (1.0 - d) / n + d * (next(v) + dangling / n))
  }

  /** Ranks after `iters` rounds from the uniform vector. */
  def pageRank(g: Adjacency, iters: Int, d: Double = 0.85): Array[Double] =
    Iterator.iterate(Array.fill(g.n)(1.0 / g.n))(pageRankStep(g, _, d)).drop(iters).next()

  /** Rounds until the L1 change of a round falls under `eps` (capped). */
  def pageRankRounds(g: Adjacency, eps: Double, maxIters: Int, d: Double = 0.85): Int = {
    var r = Array.fill(g.n)(1.0 / g.n)
    var t = 0
    var delta = Double.MaxValue
    while (delta >= eps && t < maxIters) {
      val nxt = pageRankStep(g, r, d)
      delta = nxt.indices.map(i => math.abs(nxt(i) - r(i))).sum
      r = nxt; t += 1
    }
    t
  }

  /** Label propagation f' = α·Σ_{u→v} f(u)/outdeg(u) + (1−α)·y from f₀ = y. */
  def labelProp(g: Adjacency, y: Array[Double], iters: Int, alpha: Double): Array[Double] = {
    var f = y.clone()
    (0 until iters).foreach { _ =>
      val c = new Array[Double](g.n)
      var u = 0
      while (u < g.n) {
        val o = g.out(u)
        if (o.nonEmpty) { val s = f(u) / o.length; o.foreach(v => c(v) += s) }
        u += 1
      }
      f = Array.tabulate(g.n)(v => alpha * c(v) + (1.0 - alpha) * y(v))
    }
    f
  }

  /** Coreness of every node of the undirected simple graph (bucket peeling). */
  def coreness(g: Adjacency): Array[Int] = {
    val nb = Array.fill(g.n)(mutable.HashSet[Int]())
    var u = 0
    while (u < g.n) {
      g.out(u).foreach(v => if (v != u) { nb(u) += v; nb(v) += u })
      u += 1
    }
    val deg = nb.map(_.size)
    val core = new Array[Int](g.n)
    val removed = new Array[Boolean](g.n)
    val byDeg = mutable.TreeSet[(Int, Int)]() ++ (0 until g.n).map(v => (deg(v), v))
    var k = 0
    while (byDeg.nonEmpty) {
      val (dv, v) = byDeg.head
      byDeg -= ((dv, v))
      k = math.max(k, dv)
      core(v) = k
      removed(v) = true
      nb(v).foreach { w =>
        if (!removed(w)) { byDeg -= ((deg(w), w)); deg(w) -= 1; byDeg += ((deg(w), w)) }
      }
    }
    core
  }

  // ----------------------------------------------------------------- corpus

  /** Distinct word 3-grams of a lower-case, single-space separated text. */
  def shingles(text: String, n: Int = 3): Set[String] =
    text.split(" ").filter(_.nonEmpty).sliding(n).filter(_.length == n)
      .map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    inter.toDouble / (a.size + b.size - inter)
  }

  /** Exact-substring removal: every character covered by a length-`l`
    * window that occurs more than once in the corpus (same-document
    * repeats included) is excised. Windows are compared by a 64-bit
    * polynomial hash. Returns the cleaned texts, indexed like `texts`.
    */
  def removeExactSubstr(texts: Array[String], l: Int): Array[String] = {
    val hashes = texts.map(windowHashes(_, l))
    val all = hashes.flatten.sorted
    val dup = mutable.HashSet[Long]()
    var i = 1
    while (i < all.length) { if (all(i) == all(i - 1)) dup += all(i); i += 1 }
    texts.indices.map { d =>
      val t = texts(d)
      val covered = new java.util.BitSet(t.length)
      hashes(d).zipWithIndex.foreach { case (h, p) =>
        if (dup.contains(h)) covered.set(p, math.min(p + l, t.length))
      }
      val sb = new StringBuilder
      t.indices.foreach(p => if (!covered.get(p)) sb += t(p))
      sb.toString
    }.toArray
  }

  private def windowHashes(t: String, l: Int): Array[Long] = {
    if (t.length < l) return Array.empty
    val b = 0x100000001B3L
    var pow = 1L
    (1 until l).foreach(_ => pow *= b)
    val out = new Array[Long](t.length - l + 1)
    var h = 0L
    var i = 0
    while (i < l) { h = h * b + t(i); i += 1 }
    out(0) = h
    var p = 1
    while (p < out.length) {
      h = (h - t(p - 1) * pow) * b + t(p + l - 1)
      out(p) = h
      p += 1
    }
    out
  }
}
