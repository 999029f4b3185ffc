package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded input generators. Every input the benchmark hands to the
 * library is written by these functions from the workload seed alone,
 * so one seed always gives byte-identical files. */
object Gen {

  /** Parameters of the LFR-style planted-community graph: power-law
   * degrees (exponent `degExp` on [minDeg, maxDeg]) and community sizes
   * (exponent `sizeExp` on [minComm, maxComm]); a share `mu` of every
   * vertex's stubs leaves its community. */
  final case class GraphSpec(n: Int, minDeg: Int, maxDeg: Int, mu: Double,
      minComm: Int, maxComm: Int, degExp: Double = 2.5, sizeExp: Double = 1.5)

  /** Undirected simple graph: canonical (src < dst) distinct edges over
   * vertex ids 0 until n. */
  final case class GenGraph(n: Int, src: Array[Long], dst: Array[Long]) {
    def edgeCount: Int = src.length
  }

  private def powerLaw(rnd: SplittableRandom, lo: Int, hi: Int, exp: Double): Int = {
    val a = math.pow(lo.toDouble, 1 - exp)
    val b = math.pow(hi + 1.0, 1 - exp)
    val x = math.pow(a + rnd.nextDouble() * (b - a), 1 / (1 - exp))
    math.min(hi, math.max(lo, x.toInt))
  }

  private def shuffle(rnd: SplittableRandom, a: Array[Int]): Unit = {
    var i = a.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
  }

  /** Pair up a shuffled stub list, skipping self-loops, repeated pairs
   * and pairs `reject` refuses; every kept pair goes to `edges`. */
  private def pairStubs(rnd: SplittableRandom, stubs: Array[Int],
      edges: scala.collection.mutable.LinkedHashSet[Long], n: Long,
      reject: (Int, Int) => Boolean): Unit = {
    shuffle(rnd, stubs)
    var i = 0
    while (i + 1 < stubs.length) {
      val a = math.min(stubs(i), stubs(i + 1)); val b = math.max(stubs(i), stubs(i + 1))
      if (a != b && !reject(a, b)) edges += a * n + b
      i += 2
    }
  }

  def lfrGraph(spec: GraphSpec, seed: Long): GenGraph = {
    val rnd = new SplittableRandom(seed)
    val n = spec.n
    val deg = Array.fill(n)(powerLaw(rnd, spec.minDeg, spec.maxDeg, spec.degExp))
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Int]
    var total = 0
    while (total < n) {
      val s = math.min(powerLaw(rnd, spec.minComm, spec.maxComm, spec.sizeExp), n - total)
      sizes += s; total += s
    }
    // fill communities from a shuffled vertex order
    val order = Array.range(0, n); shuffle(rnd, order)
    val comm = new Array[Int](n)
    var pos = 0
    sizes.zipWithIndex.foreach { case (s, c) =>
      var k = 0
      while (k < s) { comm(order(pos)) = c; pos += 1; k += 1 }
    }
    val internal = Array.tabulate(n) { v =>
      math.min(sizes(comm(v)) - 1, math.round((1 - spec.mu) * deg(v)).toInt)
    }
    val edges = scala.collection.mutable.LinkedHashSet.empty[Long]
    val members = Array.fill(sizes.length)(scala.collection.mutable.ArrayBuffer.empty[Int])
    (0 until n).foreach(v => members(comm(v)) += v)
    members.foreach { ms =>
      val stubs = ms.flatMap(v => Iterator.fill(internal(v))(v)).toArray
      pairStubs(rnd, stubs, edges, n, (_, _) => false)
    }
    val external = (0 until n).flatMap(v => Iterator.fill(deg(v) - internal(v))(v)).toArray
    pairStubs(rnd, external, edges, n, (a, b) => comm(a) == comm(b))
    // permute ids so that id order says nothing about communities
    val perm = Array.range(0, n); shuffle(rnd, perm)
    val src = new Array[Long](edges.size); val dst = new Array[Long](edges.size)
    var i = 0
    edges.foreach { key =>
      val a = perm((key / n).toInt).toLong; val b = perm((key % n).toInt).toLong
      src(i) = math.min(a, b); dst(i) = math.max(a, b); i += 1
    }
    GenGraph(n, src, dst)
  }

  /** The reference's space-delimited edge-list CSV, one edge a line. */
  def writeEdgeList(g: GenGraph, path: Path): Unit = {
    val sb = new java.lang.StringBuilder(g.edgeCount * 12)
    var i = 0
    while (i < g.edgeCount) {
      sb.append(g.src(i)).append(' ').append(g.dst(i)).append('\n'); i += 1
    }
    Files.createDirectories(path.getParent)
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }

  /** Sorted adjacency lists of a generated graph. */
  def adjacency(g: GenGraph): Array[Array[Long]] = {
    val b = Array.fill(g.n)(scala.collection.mutable.ArrayBuilder.make[Long])
    var i = 0
    while (i < g.edgeCount) {
      b(g.src(i).toInt) += g.dst(i); b(g.dst(i).toInt) += g.src(i); i += 1
    }
    b.map { x => val a = x.result(); java.util.Arrays.sort(a); a }
  }

  /** Share of vertices that close at least one triangle (the part of
   * the graph DWCC keeps after pruning). */
  def triangleVertexShare(g: GenGraph): Double = {
    val adj = adjacency(g)
    val inTri = new Array[Boolean](g.n)
    var i = 0
    while (i < g.edgeCount) {
      val a = adj(g.src(i).toInt); val b = adj(g.dst(i).toInt)
      var x = 0; var y = 0; var found = false
      while (!found && x < a.length && y < b.length) {
        if (a(x) == b(y)) found = true
        else if (a(x) < b(y)) x += 1 else y += 1
      }
      if (found) { inTri(g.src(i).toInt) = true; inTri(g.dst(i).toInt) = true }
      i += 1
    }
    val touched = adj.count(_.nonEmpty)
    if (touched == 0) 0.0 else inTri.count(identity).toDouble / touched
  }

  /** Clustered embedding corpus: `clusters` Gaussian centres in `dims`
   * dimensions, `n` points around them, then `copies` planted
   * near-copies. A copy gets an id above every original, so the
   * deduplicator keeps the original and drops the copy. */
  final case class CorpusSpec(n: Int, dims: Int, clusters: Int, spread: Double,
      copies: Int, copyNoise: Double)

  final case class Corpus(ids: Array[Long], labels: Array[Int],
      vectors: Array[Array[Float]], copyOf: Map[Long, Long])

  def corpus(spec: CorpusSpec, seed: Long): Corpus = {
    val rnd = new SplittableRandom(seed)
    def gauss(): Double = {
      // Box-Muller, one value per call keeps the stream simple
      val u = 1.0 - rnd.nextDouble(); val v = rnd.nextDouble()
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * v)
    }
    val centres = Array.fill(spec.clusters, spec.dims)(gauss())
    val labels = Array.fill(spec.n)(rnd.nextInt(spec.clusters))
    val base = labels.map(c => Array.tabulate(spec.dims)(d =>
      (centres(c)(d) + spec.spread * gauss()).toFloat))
    val sources = Array.range(0, spec.n); shuffle(rnd, sources)
    val picked = sources.take(spec.copies).sorted
    val copies = picked.map(o => base(o).map(x => (x + spec.copyNoise * gauss()).toFloat))
    val ids = Array.tabulate(spec.n + picked.length)(_.toLong)
    val copyOf = picked.zipWithIndex.map { case (o, j) => (spec.n + j).toLong -> o.toLong }.toMap
    Corpus(ids, labels ++ picked.map(labels(_)), base ++ copies, copyOf)
  }

  /** JSON lines {"vec_id":..,"label":..,"embedding":[..]}; floats are
   * written in their shortest round-trip form. */
  def writeCorpus(c: Corpus, path: Path): Unit = {
    val sb = new java.lang.StringBuilder(c.ids.length * c.vectors.head.length * 12)
    var i = 0
    while (i < c.ids.length) {
      sb.append("{\"vec_id\":").append(c.ids(i)).append(",\"label\":").append(c.labels(i))
        .append(",\"embedding\":[")
      val v = c.vectors(i)
      var d = 0
      while (d < v.length) {
        if (d > 0) sb.append(',')
        sb.append(java.lang.Float.toString(v(d))); d += 1
      }
      sb.append("]}\n"); i += 1
    }
    Files.createDirectories(path.getParent)
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}
