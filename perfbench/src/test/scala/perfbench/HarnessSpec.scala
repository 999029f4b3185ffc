package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.CompletableFuture

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.EdgeOps
import graft.wcc.DistributedWCC

/** Self-tests of the benchmark harness: seeded inputs, span
 * attribution and output checks. Run with `sbt test` in perfbench/. */
class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def afterAll(): Unit = spark.stop()

  private def tmp(): Path = Files.createTempDirectory("perfbench-spec")

  private def bytes(p: Path): Seq[Byte] = Files.readAllBytes(p).toSeq

  test("the same seed writes byte-identical inputs; another seed does not") {
    for (w <- Seq(Workloads.DwccBatch, Workloads.IdwccStream, Workloads.VectorDedup)) {
      val (a, b, c) = (tmp(), tmp(), tmp())
      w.generate(a, 7, warm = true); w.generate(b, 7, warm = true); w.generate(c, 8, warm = true)
      val name = Files.list(a).iterator().next().getFileName
      assert(bytes(a.resolve(name)) == bytes(b.resolve(name)), s"${w.name} is not reproducible")
      assert(bytes(a.resolve(name)) != bytes(c.resolve(name)), s"${w.name} ignores its seed")
    }
  }

  test("spans count the jobs and tasks of known actions exactly") {
    val sc = spark.sparkContext
    val tr = new Tracer(sc, 2)
    tr.attach(new WorkListener)
    sc.parallelize(1 to 100, 5).count() // before any span: never attributed
    tr.span("plain")(sc.parallelize(1 to 100, 4).count())
    // submitted from a ForkJoinPool thread, which inherits no job properties
    tr.span("forkjoin") {
      CompletableFuture.supplyAsync(() =>
        sc.parallelize(1 to 100, 3).map(x => (x % 7, 1)).reduceByKey(_ + _, 2).count()).join()
    }
    tr.detach()
    val Seq(plain, fj) = tr.spans.toSeq
    assert((plain.work.jobs, plain.work.tasks) == ((1, 4)))
    assert((fj.work.jobs, fj.work.tasks) == ((1, 5)))
    assert(plain.work.taskFailures == 0 && fj.work.shuffleBytes > 0)
  }

  test("the partition check rejects one relabelled vertex") {
    val dir = tmp()
    val in = Workloads.DwccBatch.generate(dir, 3, warm = true).asInstanceOf[Workloads.GraphInputs]
    val canon = EdgeOps.canonicalize(EdgeOps.loadCsvEdges(spark, in.path)).cache()
    val out = DistributedWCC.run(EdgeOps.toGraph(canon))
    val labels = Workloads.labelsOf(out.graph)
    def check(l: Array[(Long, Long)]) =
      Workloads.DwccBatch.checkPartition(spark, canon, l, in.vertices, out.bestWcc)
    assert(check(labels).isEmpty)
    // move one member of a real community into another community
    val sizes = labels.groupBy(_._2).map { case (c, vs) => c -> vs.length }
    val i = labels.indexWhere(l => sizes(l._2) > 1)
    val other = sizes.keys.find(c => c != labels(i)._2 && sizes(c) > 1).get
    assert(check(labels.updated(i, (labels(i)._1, other))).nonEmpty)
    assert(check(labels.take(labels.length - 1)).nonEmpty)
  }
}
