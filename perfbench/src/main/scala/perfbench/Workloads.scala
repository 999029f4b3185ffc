package perfbench

import java.nio.file.Path

import org.apache.spark.graphx.{Edge, Graph, PartitionStrategy}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.graph.{EdgeOps, GraphAlgs}
import graft.ops.Similarity
import graft.wcc.{DistributedWCC, IncrementalWCC, InitialPartition, TriangleStats, WccCheck}

/** Outcome of checking a pass's outputs: the checks that failed and
 * figures found on the way. */
final case class Checked(failures: Seq[String], extras: Map[String, Double] = Map.empty)

/** What one pass produced: a digest of its outputs, measured extras,
 * and the (untimed) check of its outputs, run while they are cached. */
final case class PassOut(digest: String, extras: Map[String, Double], verify: () => Checked)

/** A benchmark workload: seeded inputs written to files, and one pass
 * that feeds those files through the library's layers inside spans. */
trait Workload {
  def name: String
  /** The spans a pass records, in call order. */
  def spans: Seq[String]
  /** Write the inputs for `seed`; `warm` gives the warm-up inputs. */
  def generate(dir: Path, seed: Long, warm: Boolean): Inputs
  /** The set-up's warm-up: scan the warm-up inputs once, untimed. */
  def warmUp(spark: SparkSession, in: Inputs): Unit
  def pass(spark: SparkSession, tr: Tracer, in: Inputs): PassOut
}

trait Inputs {
  /** Input sizes, printed with the results. */
  def describe: Map[String, Double]
}

object Workloads {
  val all: Seq[Workload] = Seq(WccBatchStream, RoundsVectors)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  /** The graph of the WCC workload, batch and stream alike. Its mixing
   * share is low because refinement then takes a steadier number of
   * iterations from seed to seed: over seeds 101-108, DWCC plus IDWCC
   * prepare took 14-20 iterations at mu = 0.1 and 11-22 at mu = 0.2. */
  val WccGraph = Gen.GraphSpec(n = 1500, minDeg = 12, maxDeg = 60, mu = 0.1,
    minComm = 10, maxComm = 50)
  /** The graph of the round loops. */
  val RoundsGraph = Gen.GraphSpec(n = 1200, minDeg = 12, maxDeg = 60, mu = 0.2,
    minComm = 10, maxComm = 50)
  val WarmGraph = Gen.GraphSpec(n = 150, minDeg = 8, maxDeg = 20, mu = 0.2,
    minComm = 8, maxComm = 30)
  val StreamBatches = 2
  val WarmBatches = 1
  val Corpus = Gen.CorpusSpec(n = 300, dims = 64, clusters = 16, spread = 0.8,
    copies = 20, copyNoise = 1e-4)
  // nearly full size: the vector operators' hot loops run once per pair
  // of vectors, and a 50-vector warm-up left half the seeds' timed
  // passes a fifth slower
  val WarmCorpus = Gen.CorpusSpec(n = 280, dims = 64, clusters = 16, spread = 0.8,
    copies = 15, copyNoise = 1e-4)
  val CellCap = 32

  final case class GraphInputs(path: String, g: Gen.GenGraph, batches: Int) extends Inputs {
    lazy val vertices: Array[Long] =
      (g.src.iterator ++ g.dst.iterator).toArray.distinct.sorted
    lazy val maxId: Long = vertices.last
    /** The reference's bulk split: floor(maxId * 0.8). */
    lazy val split: Double = math.floor(maxId * 0.8)
    private lazy val batchSize = math.floor((maxId - split) / batches)
    /** Half-open id range [lower, higher) of micro-batch i (1-based). */
    def batchRange(i: Int): (Double, Double) =
      (split + (i - 1) * batchSize,
        if (i == batches) maxId + 1.0 else split + i * batchSize)
    lazy val bulkVertices: Array[Long] = g.src.indices
      .filter(i => g.src(i) < split && g.dst(i) < split)
      .flatMap(i => Seq(g.src(i), g.dst(i))).distinct.sorted.toArray
    lazy val bulkEdges: Int = g.src.indices.count(i => g.src(i) < split && g.dst(i) < split)
    lazy val batchEdges: Seq[Int] = (1 to batches).map { b =>
      val (lo, hi) = batchRange(b)
      g.src.indices.count { i =>
        val s = g.src(i); val d = g.dst(i)
        (s >= lo || d >= lo) && s < hi && d < hi && (s >= split || d >= split)
      }
    }
    def describe: Map[String, Double] = Map(
      "vertices" -> vertices.length.toDouble,
      "edges" -> g.edgeCount.toDouble,
      "triangle_vertex_share" -> Gen.triangleVertexShare(g)) ++
      (if (batches < 2) Map.empty else Map(
        "bulk_edges" -> bulkEdges.toDouble,
        "batches" -> batches.toDouble,
        "batch_edges_min" -> batchEdges.min.toDouble,
        "batch_edges_max" -> batchEdges.max.toDouble))
  }

  /** Warm-up of the graph workloads: scan and canonicalize the edges. */
  trait GraphWorkload extends Workload {
    def warmUp(spark: SparkSession, in: Inputs): Unit =
      EdgeOps.canonicalize(EdgeOps.loadCsvEdges(spark,
        in.asInstanceOf[GraphInputs].path)).count()
  }

  def graphInputs(dir: Path, seed: Long, warm: Boolean, spec: Gen.GraphSpec,
      batches: Int): GraphInputs = {
    val g = Gen.lfrGraph(if (warm) WarmGraph else spec, seed)
    val p = dir.resolve("edges.csv")
    Gen.writeEdgeList(g, p)
    GraphInputs(p.toString, g, batches)
  }

  /** SHA-256 over a stream of longs, as hex. */
  def digest(xs: Iterator[Long]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(8)
    xs.foreach { x => buf.clear(); buf.putLong(x); md.update(buf.array()) }
    md.digest().take(12).map("%02x".format(_)).mkString
  }

  /** Drop every cached RDD and table, waiting for the blocks to go, so
   * each pass starts from the same storage state. */
  def releaseAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** edgeops: CSV scan -> canonical edge set (cached, as the query layer
   * caches it) -> GraphX graph, materialized. Partitions follow the
   * query layer's rule max(8, min(input partitions, E / 250k)). */
  def edgeops(spark: SparkSession, tr: Tracer, path: String): (DataFrame, Graph[Int, Int]) =
    tr.span("edgeops") {
      val canon = EdgeOps.canonicalize(EdgeOps.loadCsvEdges(spark, path)).cache()
      val nE = canon.count()
      val parts = math.max(8, math.min(canon.rdd.getNumPartitions, (nE / 250000L).toInt))
      val g = EdgeOps.toGraph(canon, parts)
      g.cache()
      g.numVertices
      (canon, g)
    }

  /** Vertex labels of a partition graph, sorted by vertex id. */
  def labelsOf(g: Graph[graft.wcc.VertexData, Int]): Array[(Long, Long)] =
    g.vertices.map { case (id, vd) => (id, vd.cId) }.collect().sortBy(_._1)

  /** A partition labels every graph vertex exactly once. */
  def labelsCoverOnce(labels: Array[(Long, Long)], vertices: Array[Long]): Boolean =
    labels.length == vertices.length &&
      labels.map(_._1).sameElements(vertices)

  object DwccBatch extends GraphWorkload {
    val name = "dwcc_batch"
    val spans = Seq("edgeops", "triangle_stats", "initial_partition", "refine")

    def generate(dir: Path, seed: Long, warm: Boolean): Inputs =
      graphInputs(dir, seed, warm, WccGraph, 1)

    def pass(spark: SparkSession, tr: Tracer, in: Inputs): PassOut = {
      val gi = in.asInstanceOf[GraphInputs]
      val (canon, g) = edgeops(spark, tr, gi.path)
      val tri = tr.span("triangle_stats") {
        val t = TriangleStats.run(g)
        t.pruned.cache()
        t.pruned.numVertices
        t
      }
      val init = tr.span("initial_partition")(InitialPartition.run(tri.pruned))
      val (out, labels) = tr.span("refine") {
        val o = DistributedWCC.run(g, precomputedStats = Some(tri), precomputedInit = Some(init))
        (o, labelsOf(o.graph))
      }
      // bestWcc is a float sum whose last bit depends on the order in
      // which partition results arrive, so only the labels are pinned
      val d = digest(labels.iterator.flatMap(l => Iterator(l._1, l._2)))
      PassOut(d, Map.empty, () => {
        // vertices the refinement moved away from their seed community
        val moved = init.vertices.map { case (id, vd) => (id, vd.cId) }
          .join(out.refinedCore.vertices.map { case (id, vd) => (id, vd.cId) })
          .filter { case (_, (a, b)) => a != b }.count()
        Checked(checkPartition(spark, canon, labels, gi.vertices, out.bestWcc),
          Map("best_wcc" -> out.bestWcc, "refine_moved_vertices" -> moved.toDouble,
            "pruned_vertices" -> tri.pruned.numVertices.toDouble))
      })
    }

    /** Every vertex is labelled exactly once, and the claimed global WCC
     * equals an independent recompute of the labels' WCC. */
    def checkPartition(spark: SparkSession, canon: DataFrame, labels: Array[(Long, Long)],
        vertices: Array[Long], claimedWcc: Double): Seq[String] = {
      val once =
        if (labelsCoverOnce(labels, vertices)) Nil
        else Seq("dwcc_batch: partition does not label every vertex exactly once")
      val labelsDF = spark.createDataFrame(labels.toSeq).toDF("vid", "cid")
      val recomputed = WccCheck.globalWccOfPartitionDet(canon, labelsDF)
      once ++ (if (math.abs(recomputed - claimedWcc) <= 1e-9) Nil
        else Seq(s"dwcc_batch: bestWcc $claimedWcc != recomputed $recomputed"))
    }
  }

  object IdwccStream extends GraphWorkload {
    val name = "idwcc_stream"
    val spans = Seq("idwcc_prepare", "idwcc_batch")

    def generate(dir: Path, seed: Long, warm: Boolean): Inputs =
      graphInputs(dir, seed, warm, WccGraph, if (warm) WarmBatches else StreamBatches)

    def pass(spark: SparkSession, tr: Tracer, in: Inputs): PassOut = {
      val gi = in.asInstanceOf[GraphInputs]
      val split = gi.split
      // the reference micro-batch loop (IncrementalWCC.testStream), with each
      // library call in its own span
      val edges: RDD[Edge[Int]] = EdgeOps.canonicalize(EdgeOps.loadCsvEdges(spark, gi.path))
        .select(col("src").cast("long"), col("dst").cast("long")).rdd
        .map(r => Edge(r.getLong(0), r.getLong(1), 1))
      edges.cache()
      val bulk = edges.filter(e => e.srcId < split && e.dstId < split)
      val stream = edges.filter(e => e.srcId >= split || e.dstId >= split)
      val bulkParts = math.max(8, math.min(edges.getNumPartitions, gi.bulkEdges / 250000))
      var state = tr.span("idwcc_prepare") {
        IncrementalWCC.prepare(Graph.fromEdges(bulk, 0)
          .partitionBy(PartitionStrategy.EdgePartition2D, bulkParts))
      }
      val batchS = (1 to gi.batches).map { i =>
        val (lo, hi) = gi.batchRange(i)
        val batch = stream.filter(e => (e.srcId >= lo || e.dstId >= lo) &&
          e.srcId < hi && e.dstId < hi)
        val t0 = System.nanoTime()
        state = tr.span("idwcc_batch")(IncrementalWCC.run(state, batch))
        (System.nanoTime() - t0) / 1e9
      }
      val labels = labelsOf(state.graph)
      val d = digest(labels.iterator.flatMap(l => Iterator(l._1, l._2)))
      val sorted = batchS.sorted
      val extras = Map(
        "batch_p50_s" -> sorted((sorted.length - 1) / 2),
        "stream_edges_per_s" -> gi.batchEdges.sum / batchS.sum)
      PassOut(d, extras, () => Checked(
        if (labelsCoverOnce(labels, gi.bulkVertices)) Nil
        else Seq("idwcc_stream: final state does not label exactly the bulk vertex set")))
    }
  }

  object DetRounds extends GraphWorkload {
    val name = "det_rounds"
    val spans = Seq("edgeops", "adjacency", "pagerank_det", "label_prop_det", "coreness",
      "matching")

    def generate(dir: Path, seed: Long, warm: Boolean): Inputs =
      graphInputs(dir, seed, warm, RoundsGraph, 1)

    def pass(spark: SparkSession, tr: Tracer, in: Inputs): PassOut = {
      val gi = in.asInstanceOf[GraphInputs]
      val (canon, g) = edgeops(spark, tr, gi.path)
      val adj = tr.span("adjacency") {
        val a = GraphAlgs.adjacencyArrays(canon).persist()
        a.count()
        a
      }
      val rank = tr.span("pagerank_det")(GraphAlgs.pagerankDetRDD(adj).collect()).sortBy(_._1)
      val lp = tr.span("label_prop_det")(GraphAlgs.labelPropagationDetRDD(adj).collect())
        .sortBy(_._1)
      val core = tr.span("coreness")(GraphAlgs.corenessDF(g).collect())
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val matched = tr.span("matching")(GraphAlgs.matchingDetDF(canon).collect())
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(m => (m._1, m._2))
      val d = digest(rank.iterator.flatMap(x => Iterator(x._1, x._2)) ++
        lp.iterator.flatMap(x => Iterator(x._1, x._2)) ++
        core.iterator.flatMap(x => Iterator(x._1, x._2)) ++
        matched.iterator.flatMap(x => Iterator(x._1, x._2, x._3)))
      PassOut(d, Map.empty, () => {
        val failures = Seq.newBuilder[String]
        val adjLists = Gen.adjacency(gi.g)
        val n = gi.vertices.length.toLong
        if (!core.map(_._1).sameElements(gi.vertices) ||
            core.exists { case (v, k) => k > adjLists(v.toInt).length })
          failures += "det_rounds: coreness missing a vertex or above its degree"
        val ends = matched.flatMap(m => Seq(m._1, m._2))
        if (ends.distinct.length != ends.length)
          failures += "det_rounds: a vertex is matched twice"
        if (matched.exists(m => java.util.Arrays.binarySearch(adjLists(m._1.toInt), m._2) < 0))
          failures += "det_rounds: a matched pair is not an edge"
        // integer PageRank keeps n * 10^6 micro-units up to the floor
        // divisions: each round loses less than (2E + n) units
        val mass = rank.map(_._2).sum
        val full = n * 1000000L
        if (!rank.map(_._1).sameElements(gi.vertices) || mass > full ||
            mass < full - 10L * (2L * gi.g.edgeCount + n))
          failures += s"det_rounds: PageRank mass $mass not conserved (expected ~$full)"
        if (!lp.map(_._1).sameElements(gi.vertices))
          failures += "det_rounds: label propagation does not label every vertex"
        Checked(failures.result(), Map(
          "matched_edges" -> matched.length.toDouble,
          "max_core" -> core.map(_._2).max.toDouble))
      })
    }
  }

  final case class CorpusInputs(path: String, c: Gen.Corpus) extends Inputs {
    def describe: Map[String, Double] = Map(
      "vectors" -> c.ids.length.toDouble,
      "dims" -> c.vectors.head.length.toDouble,
      "planted_copies" -> c.copyOf.size.toDouble)
  }

  object VectorDedup extends Workload {
    val name = "vector_dedup"
    val spans = Seq("semdedup", "ann_ivf", "ann_ivf_capped")

    private def load(spark: SparkSession, path: String): DataFrame =
      spark.read.schema("vec_id LONG, label INT, embedding ARRAY<FLOAT>").json(path)

    def warmUp(spark: SparkSession, in: Inputs): Unit =
      load(spark, in.asInstanceOf[CorpusInputs].path).count()

    def generate(dir: Path, seed: Long, warm: Boolean): Inputs = {
      val c = Gen.corpus(if (warm) WarmCorpus else Corpus, seed)
      val p = dir.resolve("corpus.jsonl")
      Gen.writeCorpus(c, p)
      CorpusInputs(p.toString, c)
    }

    def pass(spark: SparkSession, tr: Tracer, in: Inputs): PassOut = {
      val ci = in.asInstanceOf[CorpusInputs]
      val emb = load(spark, ci.path).cache()
      emb.count()
      val dedup = tr.span("semdedup")(Similarity.semDedup(emb).collect())
        .map(r => (r.getLong(0), r.getAs[Number](1).longValue,
          if (r.isNullAt(2)) -1L else r.getLong(2)))
        .sortBy(_._1)
      def topK(df: DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getAs[Number](1).longValue, r.getLong(2),
          java.lang.Double.doubleToLongBits(r.getDouble(3))))
        .sortBy(x => (x._1, x._2))
      val ivf = tr.span("ann_ivf")(topK(Similarity.ivfKmeansTopK(emb)))
      val capped = tr.span("ann_ivf_capped")(topK(Similarity.ivfKmeansTopK(emb,
        cellCap = CellCap)))
      def flat(xs: Array[(Long, Long, Long, Long)]) =
        xs.iterator.flatMap(x => Iterator(x._1, x._2, x._3, x._4))
      val d = digest(dedup.iterator.flatMap(x => Iterator(x._1, x._2, x._3)) ++
        flat(ivf) ++ flat(capped))
      PassOut(d, Map.empty, () => {
        val failures = Seq.newBuilder[String]
        val dropped = dedup.filter(_._3 >= 0).map(_._1).toSet
        val missed = ci.c.copyOf.keys.count(k => !dropped.contains(k))
        if (missed > 0) failures += s"vector_dedup: $missed planted copies kept"
        // the capped index scores at most CellCap candidates per cell
        val cellOf = Similarity.kmeansDet(emb, 8, 3).select("vec_id", "cluster").collect()
          .map(r => r.getLong(0) -> r.getAs[Number](1).longValue).toMap
        val perCell = capped.groupBy(x => cellOf(x._1)).map { case (_, xs) =>
          xs.map(_._3).distinct.length }
        if (perCell.exists(_ > CellCap))
          failures += s"vector_dedup: capped search used ${perCell.max} candidates in one cell"
        Checked(failures.result(), Map(
          "dropped" -> dropped.size.toDouble,
          "capped_max_cell_candidates" -> perCell.max.toDouble))
      })
    }
  }

  final case class RoundsVectorsInputs(graph: GraphInputs, corpus: CorpusInputs) extends Inputs {
    def describe: Map[String, Double] = graph.describe ++ corpus.describe
  }

  /** Both parts' outputs and checks, as one pass. */
  private def combine(a: PassOut, b: PassOut): PassOut =
    PassOut(a.digest + b.digest, a.extras ++ b.extras, () => {
      val (x, y) = (a.verify(), b.verify())
      Checked(x.failures ++ y.failures, x.extras ++ y.extras)
    })

  /** The deterministic round loops of GraphAlgs over a seeded graph,
   * then the vector operators of ops.Similarity. The two halves share
   * no code; they share a workload so that every layer is measured
   * within the benchmark's time budget. */
  object RoundsVectors extends Workload {
    val name = "rounds_vectors"
    val spans: Seq[String] = DetRounds.spans ++ VectorDedup.spans

    def generate(dir: Path, seed: Long, warm: Boolean): Inputs = RoundsVectorsInputs(
      DetRounds.generate(dir.resolve("graph"), seed, warm).asInstanceOf[GraphInputs],
      VectorDedup.generate(dir.resolve("corpus"), seed, warm).asInstanceOf[CorpusInputs])

    def warmUp(spark: SparkSession, in: Inputs): Unit = {
      val rv = in.asInstanceOf[RoundsVectorsInputs]
      DetRounds.warmUp(spark, rv.graph)
      VectorDedup.warmUp(spark, rv.corpus)
    }

    def pass(spark: SparkSession, tr: Tracer, in: Inputs): PassOut = {
      val rv = in.asInstanceOf[RoundsVectorsInputs]
      combine(DetRounds.pass(spark, tr, rv.graph), VectorDedup.pass(spark, tr, rv.corpus))
    }
  }

  /** The paper's two questions on one graph: batch DWCC over the whole
   * graph, then IDWCC's bulk run on the 0.8 id split and its
   * micro-batches. */
  object WccBatchStream extends GraphWorkload {
    val name = "wcc_batch_stream"
    val spans: Seq[String] = DwccBatch.spans ++ IdwccStream.spans

    def generate(dir: Path, seed: Long, warm: Boolean): Inputs =
      graphInputs(dir, seed, warm, WccGraph, if (warm) WarmBatches else StreamBatches)

    def pass(spark: SparkSession, tr: Tracer, in: Inputs): PassOut =
      combine(DwccBatch.pass(spark, tr, in), IdwccStream.pass(spark, tr, in))
  }
}
