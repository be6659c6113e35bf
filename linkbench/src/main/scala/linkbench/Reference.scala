package linkbench

import graft.graph.LinkGraph

/** The graph's folded edges in dense vid space, as primitive arrays. */
final class LocalEdges(val n: Int, val src: Array[Int], val dst: Array[Int], val w: Array[Double])

object LocalEdges {
  /** Copies the graph's folded edge cache to the driver as one packed
    * triple of arrays per partition (16 B/edge, no per-edge objects).
    */
  def of(g: LinkGraph): LocalEdges = {
    import g.spark.implicits._
    val parts = g.edges.mapPartitions { it =>
      val (s, d, w) = (Array.newBuilder[Int], Array.newBuilder[Int], Array.newBuilder[Double])
      it.foreach { e => s += e.src.toInt; d += e.dst.toInt; w += e.weight }
      Iterator((s.result(), d.result(), w.result()))
    }.collect()
    val e = new LocalEdges(g.numVertices.toInt,
      parts.flatMap(_._1), parts.flatMap(_._2), parts.flatMap(_._3))
    require(e.src.length == g.numEdges, s"edge cache held ${e.src.length} rows, graph reports ${g.numEdges}")
    e
  }
}

/** Single-threaded reference computations the engine's outputs are checked
  * against, outside every timed region.
  */
object Reference {

  /** Plain power iteration in the reference's renormalizing form: for every
    * folded edge (s, d, w), s receives d·x[d]·w / c[d] with c the weighted
    * in-degree, plus the uniform teleport (1−d)/n·Σx; then x is renormalized
    * to sum 1. Returns the vector after each of `checkpoints` iteration
    * counts.
    */
  def pageRank(e: LocalEdges, checkpoints: Seq[Int], damping: Double = 0.85): Map[Int, Array[Double]] = {
    val n = e.n
    val c = new Array[Double](n)
    var k = 0
    while (k < e.w.length) { c(e.dst(k)) += e.w(k); k += 1 }
    val wn = new Array[Double](e.w.length)
    k = 0
    while (k < wn.length) { wn(k) = e.w(k) / c(e.dst(k)); k += 1 }
    var x = Array.fill(n)(1.0 / n)
    val out = Map.newBuilder[Int, Array[Double]]
    var it = 0
    val last = checkpoints.max
    while (it < last) {
      val gx = new Array[Double](n)
      k = 0
      while (k < wn.length) { gx(e.src(k)) += wn(k) * x(e.dst(k)); k += 1 }
      val t = (1.0 - damping) / n * x.sum
      var i = 0
      while (i < n) { gx(i) = damping * gx(i) + t; i += 1 }
      val s = gx.sum
      i = 0
      while (i < n) { gx(i) /= s; i += 1 }
      x = gx
      it += 1
      if (checkpoints.contains(it)) out += it -> x.clone()
    }
    out.result()
  }

  /** Connected-component labels by union-find: label = least vid of the
    * component, the engine's canonical labeling.
    */
  def components(e: LocalEdges): Array[Int] = {
    val parent = Array.tabulate(e.n)(identity)
    def find(a: Int): Int = {
      var r = a
      while (parent(r) != r) r = parent(r)
      var x = a
      while (parent(x) != r) { val nx = parent(x); parent(x) = r; x = nx }
      r
    }
    var k = 0
    while (k < e.src.length) {
      val (a, b) = (find(e.src(k)), find(e.dst(k)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
      k += 1
    }
    Array.tabulate(e.n)(find)
  }

  /** numpy.allclose(a, b, rtol, atol) over equal-length vectors. */
  def allclose(a: Array[Double], b: Array[Double], rtol: Double = 1e-6, atol: Double = 1e-12): Boolean =
    a.length == b.length && a.indices.forall(i => math.abs(a(i) - b(i)) <= atol + rtol * math.abs(b(i)))
}
