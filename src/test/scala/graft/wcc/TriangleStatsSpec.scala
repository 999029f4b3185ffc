package graft.wcc

import graft.SparkSpec
import org.apache.spark.graphx.{Edge, Graph}

object GraphFixtures {
  /** Build a canonical GraphX graph from undirected edge pairs. */
  def graphOf(spark: org.apache.spark.sql.SparkSession, edges: Seq[(Long, Long)]): Graph[Int, Int] = {
    val canon = edges.filter(e => e._1 != e._2)
      .map(e => if (e._1 < e._2) e else e.swap).distinct
    Graph.fromEdges(
      spark.sparkContext.parallelize(canon.map(e => Edge(e._1, e._2, 1))), 0)
  }

  /** Seeded stand-in for the SNAP email-Eu-core graph the WCC parity
   * specs pin their trajectories on — same class: ~1k vertices,
   * ~18k edges, ~110k triangles, heavy-tailed degrees (max ~220,
   * median ~35). 1000 ids: twelve planted communities of 30-150
   * members with densities 0.12-0.37 plus 100 background vertices;
   * Pareto(1.6) vertex weights (capped at 40) scale both the
   * intra-community probability and the Chung-Lu cross-community
   * one. Ids are a seeded permutation, so the IDWCC 0.8 id split cuts
   * through every community. SplitMix64-driven, so the edge list is
   * identical on every JVM. Canonical (src < dst), distinct, no
   * self-loops. */
  lazy val emailLikeEdges: Seq[(Long, Long)] = {
    var state = 986L
    def uniform(): Double = {
      state += 0x9E3779B97F4A7C15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      ((z ^ (z >>> 31)) >>> 11).toDouble / (1L << 53).toDouble
    }
    val n = 1000
    val sizes = Seq(150, 120, 100, 90, 80, 70, 60, 50, 45, 40, 35, 30)
    val w = Array.fill(n)(math.min(40.0, math.pow(1.0 - uniform(), -1.0 / 1.6)))
    val comm = (sizes.zipWithIndex.flatMap { case (s, c) => Seq.fill(s)(c) } ++
      Seq.fill(n - sizes.sum)(-1)).toArray
    val density = Array.fill(sizes.size)(0.12 + 0.25 * uniform())
    val totalW = w.sum
    val ids = Array.tabulate(n)(_.toLong)
    for (i <- n - 1 until 0 by -1) {
      val j = (uniform() * (i + 1)).toInt
      val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    val out = Seq.newBuilder[(Long, Long)]
    for (a <- 0 until n; b <- a + 1 until n) {
      val p =
        if (comm(a) >= 0 && comm(a) == comm(b))
          math.min(1.0, density(comm(a)) * math.sqrt(w(a) * w(b)))
        else math.min(1.0, 2.5 * w(a) * w(b) / totalW)
      if (uniform() < p) out += ((math.min(ids(a), ids(b)), math.max(ids(a), ids(b))))
    }
    out.result()
  }

  /** [[emailLikeEdges]] as a space-separated edge file in the SNAP
   * layout `EdgeOps.loadCsvEdges` reads, carrying the raw-input noise
   * the loader and `EdgeOps.canonicalize` must clean: every 50th edge
   * also appears reversed, ten edge vertices carry a self-loop, and
   * two ids (1000, 1001) appear ONLY in self-loops, so they are not
   * vertices of the loaded graph. Written once per JVM. */
  lazy val emailLikeCsv: String = {
    val lines = emailLikeEdges.zipWithIndex.flatMap { case ((u, v), i) =>
      if (i % 50 == 0) Seq(s"$u $v", s"$v $u") else Seq(s"$u $v")
    } ++ emailLikeEdges.take(10).map { case (u, _) => s"$u $u" } ++
      Seq("1000 1000", "1001 1001")
    val f = java.io.File.createTempFile("email-like-", ".txt")
    f.deleteOnExit()
    java.nio.file.Files.write(f.toPath,
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    f.getAbsolutePath
  }

  /** Brute-force per-vertex triangle stats: (t, vt). */
  def bruteTriangles(edges: Seq[(Long, Long)]): Map[Long, (Int, Int)] = {
    val und = edges.filter(e => e._1 != e._2)
      .flatMap(e => Seq(e, e.swap)).distinct
    val adj = und.groupBy(_._1).map { case (v, es) => (v, es.map(_._2).toSet) }
    adj.map { case (v, ns) =>
      val triNbors = ns.filter(u => (adj(u) & ns).nonEmpty)
      val t = ns.toSeq.map(u => (adj(u) & ns).size).sum / 2
      (v, (t, triNbors.size))
    }
  }
}

class TriangleStatsSpec extends SparkSpec {

  test("10^5-degree hub: oriented exchange stays output-bound (no O(deg^2) blowup)") {
    // star hub 0 -- {1..100000} plus two leaf edges closing triangles
    // {0,1,2} and {0,2,3}. The pre-orientation exchange would ship the
    // hub's 100k-entry array over each of its 100k edges (10^10 ids —
    // infeasible); the oriented exchange ships the hub a few ids total,
    // so the whole job is seconds. Exact counts still hold.
    val star = (1 to 100000).map(i => (0L, i.toLong))
    val g = GraphFixtures.graphOf(spark, star ++ Seq((1L, 2L), (2L, 3L)))
    val res = TriangleStats.run(g)
    val stats = res.fullStats.filter(_._2._1 > 0).collect().toMap
    assert(stats(0L) === ((2, 3))) // t=2 triangles, vt=3 triangle edges
    assert(stats(1L) === ((1, 2)))
    assert(stats(2L) === ((2, 3)))
    assert(stats(3L) === ((1, 2)))
    assert(res.pruned.numVertices === 4L)
    assert(res.pruned.numEdges === 5L)
  }
  import GraphFixtures._

  def check(edges: Seq[(Long, Long)]): Unit = {
    val g = graphOf(spark, edges)
    val res = TriangleStats.run(g)
    val got = res.fullStats.collect().toMap
    val want = bruteTriangles(edges)
    assert(got === want)
    // pruned graph: every vertex t>0, every edge closes a triangle
    val prunedV = res.pruned.vertices.collect()
    assert(prunedV.forall(_._2.t > 0))
    // vt equals degree in the pruned graph
    val prunedDeg = res.pruned.degrees.collect().toMap
    prunedV.foreach { case (id, vd) =>
      assert(vd.vt === prunedDeg.getOrElse(id, 0), s"vt mismatch at $id")
    }
  }

  test("single triangle") { check(Seq((1L, 2L), (2L, 3L), (1L, 3L))) }

  test("triangle plus pendant vertex") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    check(edges)
    val g = graphOf(spark, edges)
    val res = TriangleStats.run(g)
    // pendant vertex 4 pruned away
    assert(res.pruned.vertices.collect().map(_._1).toSet === Set(1L, 2L, 3L))
    assert(res.fullStats.collect().toMap.apply(4L) === ((0, 0)))
  }

  test("two triangles sharing a vertex") {
    check(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (3L, 5L)))
  }

  test("4-clique: t=3, vt=3, cc=1 for all") {
    val edges = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    check(edges)
    val g = graphOf(spark, edges)
    val res = TriangleStats.run(g)
    res.pruned.vertices.collect().foreach { case (_, vd) =>
      assert(vd.t === 3); assert(vd.vt === 3); assert(vd.cc === 1.0)
    }
  }

  test("two disjoint triangles bridged by a non-triangle edge") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
    check(edges)
    val g = graphOf(spark, edges)
    val res = TriangleStats.run(g)
    // bridge 3-4 closes no triangle: removed by the edge predicate
    assert(res.pruned.edges.collect().forall(e =>
      !(e.srcId == 3L && e.dstId == 4L) && !(e.srcId == 4L && e.dstId == 3L)))
    // but both endpoints survive (t>0)
    assert(res.pruned.vertices.collect().map(_._1).toSet === Set(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("sortedIntersectCount") {
    assert(TriangleStats.sortedIntersectCount(Array(1L, 3L, 5L), Array(2L, 3L, 5L, 7L)) === 2)
    assert(TriangleStats.sortedIntersectCount(Array.empty[Long], Array(1L)) === 0)
  }

  test("email-like fixture keeps its email-Eu-core-class shape") {
    val degrees = emailLikeEdges.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map(_._2.size).toSeq.sorted
    val triangles = bruteTriangles(emailLikeEdges).values.map(_._1.toLong).sum / 3
    // the generator is deterministic: a drift here is a fixture change
    // that re-baselines every trajectory pinned on it
    assert((degrees.size, emailLikeEdges.size, triangles) === ((996, 18409, 113666L)))
    assert(emailLikeEdges.forall(e => e._1 < e._2))
    assert(emailLikeEdges.distinct.size === emailLikeEdges.size)
    // heavy-tailed degrees: the maximum is over five times the median
    assert(degrees.last > 5 * degrees(degrees.size / 2))
  }

  test("restrictedResult equals run() on the restricted email-like fixture") {
    import graft.graph.EdgeOps
    import org.apache.spark.sql.functions.{col, greatest, max}
    val canon = EdgeOps.canonicalize(
      EdgeOps.loadCsvEdges(spark, emailLikeCsv))
    val maxVertex = canon.agg(max(greatest(col("src"), col("dst"))))
      .head().getLong(0)
    val split = math.floor(maxVertex * 0.8) // the IDWCC harness split
    val adj = graft.graph.GraphAlgs.weightedAdjacency(EdgeOps.symmetrize(canon))

    val derived = TriangleStats.restrictedResult(adj, canon, split)

    val bulkEdges = canon.where(col("src") < split && col("dst") < split)
      .select(col("src").cast("long"), col("dst").cast("long")).rdd
      .map(r => Edge(r.getLong(0), r.getLong(1), 1))
    val direct = TriangleStats.run(Graph.fromEdges(bulkEdges, 0))

    // identical (t, vt) for the identical vertex universe
    val dStats = derived.fullStats.collect().toMap
    val sStats = direct.fullStats.collect().toMap
    assert(dStats === sStats)
    // identical pruned core: vertex data and support-weighted edges
    val dV = derived.pruned.vertices.collect().toMap
    val sV = direct.pruned.vertices.collect().toMap
    assert(dV === sV)
    val dE = derived.pruned.edges.collect()
      .map(e => ((math.min(e.srcId, e.dstId), math.max(e.srcId, e.dstId)), e.attr)).toMap
    val sE = direct.pruned.edges.collect()
      .map(e => ((math.min(e.srcId, e.dstId), math.max(e.srcId, e.dstId)), e.attr)).toMap
    assert(dE === sE)
  }
}
