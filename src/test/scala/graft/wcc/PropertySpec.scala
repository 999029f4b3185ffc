package graft.wcc

import graft.SparkSpec
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants from FIXTURES.md §4, on scalacheck-
 * generated random small graphs (fixed seeds for reproducibility)
 * checked against brute-force recomputation. */
class PropertySpec extends SparkSpec {
  import GraphFixtures._

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private def forAll[T](g: Gen[T], n: Int = 8)(check: T => Unit): Unit =
    samples(g, n).foreach(check)

  private val edgeGen: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.choose(4, 16)
    m <- Gen.choose(n, 3 * n)
    edges <- Gen.listOfN(m, for {
      a <- Gen.choose(1L, n.toLong)
      b <- Gen.choose(1L, n.toLong)
    } yield (a, b))
  } yield edges.filter(e => e._1 != e._2)

  test("triangle stats match brute force on random graphs") {
    forAll(edgeGen) { edges =>
      if (edges.nonEmpty) {
        val got = TriangleStats.run(graphOf(spark, edges)).fullStats.collect().toMap
        val want = bruteTriangles(edges)
        assert(got === want)
      }
    }
  }

  test("cc is in [0,1] and zero when vt < 2") {
    forAll(Gen.zip(Gen.choose(0, 100), Gen.choose(0, 30)), 30) { case (t, vt) =>
      val maxT = vt.toLong * (vt - 1) / 2
      val tt = if (vt < 2) t else math.min(t, maxT).toInt
      val cc = VertexData(1, tt, vt, 1).cc
      if (vt < 2) assert(cc === 0.0)
      else assert(cc >= 0.0 && cc <= 1.0 + 1e-12)
    }
  }

  test("community stats: sizes sum to |V|, edge counts match brute force") {
    forAll(edgeGen) { edges =>
      if (edges.nonEmpty) {
        val g = graphOf(spark, edges)
          .mapVertices((id, _) => VertexData(id, 0, 0, id % 3))
        val stats = CommunityOps.computeCommunityStats(g)
        val und = edges.map(e => if (e._1 < e._2) e else e.swap).distinct
        val verts = und.flatMap(e => Seq(e._1, e._2)).distinct
        assert(stats.values.map(_.r).sum === verts.size)
        // brute-force INT/EXT
        val intBrute = und.count(e => e._1 % 3 == e._2 % 3)
        assert(stats.values.map(_.a).sum === intBrute.toDouble)
        val extPerC = und.filter(e => e._1 % 3 != e._2 % 3)
          .flatMap(e => Seq(e._1 % 3, e._2 % 3))
          .groupBy(identity).map { case (c, xs) => (c, xs.size) }
        stats.foreach { case (c, cd) =>
          assert(cd.b === extPerC.getOrElse(c, 0), s"b mismatch for $c")
        }
      }
    }
  }

  test("fused NbrSurface equals the Map-based degrees + same-community arrays") {
    forAll(edgeGen) { edges =>
      if (edges.nonEmpty) {
        // random-ish partition: cId = vId % 3 (exercises multi- and
        // single-community neighborhoods)
        val g = graphOf(spark, edges)
          .mapVertices((id, _) => VertexData(id, 1, 2, id % 3))
        val surf = CommunityOps.nbrSurfaces(g).collect().toMap
        val deg = CommunityOps.vertexCommunityDegrees(g).collect().toMap
        assert(surf.keySet === deg.keySet)
        surf.foreach { case (vid, s) =>
          val asMap = s.cIds.zip(s.counts).toMap
          assert(asMap === deg(vid), s"community degrees diverge at $vid")
          assert(s.cIds.toSeq === s.cIds.sorted.toSeq)
          assert(s.sameNbrs.toSeq === s.sameNbrs.sorted.toSeq)
        }
        // same-community neighbor sets against brute force
        val und = edges.filter(e => e._1 != e._2)
          .map(e => if (e._1 < e._2) e else e.swap).distinct
        val cid = und.flatMap(e => Seq(e._1, e._2)).distinct
          .map(v => (v, v % 3)).toMap
        und.foreach { case (a, b) =>
          if (cid(a) == cid(b)) {
            assert(surf(a).sameNbrs.contains(b) && surf(b).sameNbrs.contains(a))
          }
        }
        // derived stats identical to the two-scan triplet form
        val s1 = CommunityOps.statsFromSurfaces(g, CommunityOps.nbrSurfaces(g))
        assert(s1 === CommunityOps.computeCommunityStats(g))
        val w1 = CommunityOps.computeGlobalWccFromSurfaces(
          g, CommunityOps.nbrSurfaces(g), s1, g.numVertices)
        // the refinement loop's CONCURRENT evaluation (stats collect
        // and triangle-exchange scaffold as overlapping jobs) equals
        // the sequential composition: stats integer-exact, the WCC
        // scalar up to float summation order
        val surf3 = CommunityOps.nbrSurfaces(g); surf3.cache()
        val (cs, w3) = CommunityOps.evalSurfacesConcurrent(g, surf3, g.numVertices)
        surf3.unpersist(blocking = false)
        assert(cs === s1)
        assert(math.abs(w3 - w1) < 1e-12, s"wcc $w3 vs $w1")
      }
    }
  }

  /** Brute-force (same-community degree, intra-community triangle
   * count) per vertex of `edges` under the labelling `cid`. */
  private def bruteCommunityTriangles(edges: Seq[(Long, Long)],
      cid: Long => Long): Map[Long, (Int, Int)] = {
    val und = edges.filter(e => e._1 != e._2)
      .map(e => if (e._1 < e._2) e else e.swap).distinct
    val same = und.filter(e => cid(e._1) == cid(e._2))
    val adj = (same ++ same.map(_.swap)).groupBy(_._1)
      .map { case (v, es) => (v, es.map(_._2).toSet) }
    und.flatMap(e => Seq(e._1, e._2)).distinct.map { v =>
      val ns = adj.getOrElse(v, Set.empty[Long])
      (v, (ns.size, ns.toSeq.map(u => (adj(u) & ns).size).sum / 2))
    }.toMap
  }

  /** The evaluation scaffold's per-vertex (vtC, tC) under `cid`. */
  private def scaffoldCounts(edges: Seq[(Long, Long)],
      cid: Long => Long): Map[Long, (Int, Int)] = {
    val g = graphOf(spark, edges)
      .mapVertices((id, _) => VertexData(id, 1, 2, cid(id)))
    val surf = CommunityOps.nbrSurfaces(g); surf.cache()
    val scaffold = CommunityOps.wccEvalScaffold(g, surf)
    val out = scaffold.collect()
      .map { case (id, (_, vtC, tC)) => (id, (vtC, tC)) }.toMap
    scaffold.unpersist(blocking = false)
    surf.unpersist(blocking = false)
    out
  }

  test("WCC scaffold (vtC, tC) equals brute force, galloping hub fan included") {
    forAll(edgeGen) { edges =>
      if (edges.nonEmpty) {
        val cid = (v: Long) => v % 3
        assert(scaffoldCounts(edges, cid) === bruteCommunityTriangles(edges, cid))
      }
    }
    // fan: hub 0 on a 300-vertex path with chords; the hub and the
    // path's first 150 vertices form one community, the rest another,
    // so same-community edges pair the hub's 150 same-community
    // neighbors with a leaf's <= 5 — the > 16x skew that takes the
    // galloping branch of the intersection
    val fan = (1L to 300L).map(i => (0L, i)) ++
      (1L until 300L).map(i => (i, i + 1)) ++
      (1L to 298L by 5).map(i => (i, i + 2))
    val cid = (v: Long) => if (v <= 150L) 0L else 1L
    val hubSame = fan.count { case (u, v) => u == 0L && cid(v) == 0L }
    assert(hubSame > 16 * 5, "premise: the hub-leaf pairs must gallop")
    val got = scaffoldCounts(fan, cid)
    assert(got === bruteCommunityTriangles(fan, cid))
    assert(got(0L)._1 === hubSame && got(0L)._2 > 0)
  }

  test("stats fold: wide (>64-part reduceByKey) form equals the narrow aggregate form") {
    // statsFromTriples picks its shape by partition count (narrow
    // single-stage aggregate at bench widths, map-side-combined
    // reduceByKey at cluster widths). Every other suite runs at <= 64
    // partitions, so without this pin the 100 TB form could drift
    // unexercised. Integer sums are order-free — the forms must be
    // exactly equal.
    forAll(edgeGen, 4) { edges =>
      if (edges.nonEmpty) {
        val canon = edges.map(e => if (e._1 < e._2) e else e.swap).distinct
        val sc = spark.sparkContext
        def gAt(parts: Int) = {
          val g0 = org.apache.spark.graphx.Graph.fromEdges(
            sc.parallelize(canon.map(e =>
              org.apache.spark.graphx.Edge(e._1, e._2, 1)), parts), 0)
          g0.mapVertices((id, _) => VertexData(id, 0, 2, id % 3))
        }
        val narrow = gAt(4)
        val wide = gAt(80)
        assert(wide.vertices.getNumPartitions > 64,
          "premise: the wide graph must cross the 64-partition strategy split")
        val sN = CommunityOps.statsFromSurfaces(narrow, CommunityOps.nbrSurfaces(narrow))
        val sW = CommunityOps.statsFromSurfaces(wide, CommunityOps.nbrSurfaces(wide))
        assert(sN === sW)
      }
    }
  }

  test("DWCC output covers every vertex exactly once with a valid community") {
    forAll(edgeGen, 4) { edges =>
      if (edges.nonEmpty) {
        val g = graphOf(spark, edges)
        val out = DistributedWCC.run(g)
        val verts = out.graph.vertices.collect()
        assert(verts.length === g.numVertices)
        val ids = verts.map(_._1).toSet
        assert(verts.forall { case (_, vd) => ids.contains(vd.cId) })
        // deterministic: same input -> same partition
        val again = DistributedWCC.run(g).graph.vertices.collect()
        assert(verts.sortBy(_._1).map(_._2.cId).toSeq ===
          again.sortBy(_._1).map(_._2.cId).toSeq)
      }
    }
  }
}
