package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark entry point.
 *
 * {{{
 * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *      [--work-dir <dir>] [--pinned <file>]
 * }}}
 *
 * Generates the workload's inputs from the seed and sets up a Spark
 * session three times, each with a warm-up scan of the warm-up inputs
 * (`setup_s` is the median). One untimed warm-up pass then runs the
 * whole workload on the warm-up inputs, and timed passes over the full
 * inputs run for `seconds` (at least one; two when tracing). The first
 * full pass's outputs are checked in full; every full pass's output
 * digest must agree. The last
 * stdout line is one JSON object: {"correct", "attempted", "failed",
 * "metrics"}. With `--trace 1` the metrics are the per-layer counters,
 * measured by a benchmark-owned listener on every other pass, and a
 * full trace is written to <work-dir>/trace/. */
object Main {
  val DefaultSeed = 1L
  /** The benchmark host's core count, which the session is pinned to. */
  val Cores = 4
  val SetupRounds = 3
  /** Untimed passes over the warm-up inputs before the timed ones. */
  val WarmPasses = 1
  val MaxPasses = 40

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      workDir: Path, pinned: Option[Path])

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    val unknown = m.keySet -- Set("workload", "seed", "seconds", "trace", "work-dir", "pinned")
    require(unknown.isEmpty && args.length % 2 == 0, s"unknown arguments: ${args.mkString(" ")}")
    Args(m.getOrElse("workload", sys.error("--workload is required")),
      m.get("seed").map(_.toLong).getOrElse(DefaultSeed),
      m.get("seconds").map(_.toDouble).getOrElse(10.0),
      m.get("trace").contains("1"),
      Paths.get(m.getOrElse("work-dir", ".bench_build")).toAbsolutePath,
      m.get("pinned").map(Paths.get(_)))
  }

  /** The pinned session: local[Cores], shuffle partitions = Cores,
   * Kryo, AQE on, UTC, no UI; scratch space under the work dir. */
  def session(workDir: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def loadAvg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.UTF_8)
      .trim.split("\\s+").take(3).mkString(" ")
    catch { case NonFatal(_) => "unknown" }

  /** Every span of every workload, in a fixed order. */
  val allSpans: Seq[String] = Workloads.all.flatMap(_.spans).distinct

  val counterUnits: Map[String, String] = Map("wall_s" -> "s", "jobs" -> "count",
    "tasks" -> "count", "shuffle_bytes" -> "bytes", "cpu_s" -> "s", "gc_ms" -> "ms",
    "core_util" -> "ratio", "task_failures" -> "count")

  final case class PassRec(index: Int, traced: Boolean, warmUp: Boolean, wallS: Double,
      cachePeakMiB: Double, out: Option[PassOut], checkExtras: Map[String, Double])

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    // seconds since start at each phase boundary, for budgeting runs
    val t00 = System.nanoTime()
    val timeline = ArrayBuffer.empty[(String, Double)]
    def mark(phase: String): Unit = timeline += phase -> (System.nanoTime() - t00) / 1e9
    val wl = Workloads.byName(a.workload).getOrElse(
      sys.error(s"unknown workload ${a.workload}; one of ${Workloads.all.map(_.name).mkString(", ")}"))
    val loadStart = loadAvg()
    val dataDir = a.workDir.resolve("inputs").resolve(s"${wl.name}-seed${a.seed}")
    val full = wl.generate(dataDir.resolve("full"), a.seed, warm = false)
    val warm = wl.generate(dataDir.resolve("warm"), a.seed, warm = true)
    mark("inputs")

    // operations are span calls and output checks; a call that throws
    // and a check that fails each count as one failed operation
    val failures = ArrayBuffer.empty[String]
    var checks = 0
    var failedOps = 0
    def check(msgs: Seq[String]): Unit = {
      checks += 1
      if (msgs.nonEmpty) { failedOps += 1; failures ++= msgs }
    }
    def threw(what: String, e: Throwable): Unit = {
      failedOps += 1
      failures += s"$what threw ${e.getClass.getName}: ${e.getMessage}"
    }

    // set-up: session start plus an untimed warm-up scan, several times
    val setupS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (1 to SetupRounds).foreach { r =>
      val t0 = System.nanoTime()
      spark = session(a.workDir)
      wl.warmUp(spark, warm)
      setupS += (System.nanoTime() - t0) / 1e9
      if (r < SetupRounds) spark.stop()
    }
    mark("setup")
    val tr = new Tracer(spark.sparkContext, Cores)
    val listener = new WorkListener
    val passes = ArrayBuffer.empty[PassRec]
    var timed = 0.0
    // a traced run needs an untraced full pass beside its traced one
    val minPasses = WarmPasses + (if (a.trace) 2 else 1)
    while (passes.length < MaxPasses && (passes.length < minPasses || timed < a.seconds)) {
      val i = passes.length
      // the warm-up pass runs every code path once, so JIT and code
      // generation are done before timing starts; its inputs are not the
      // full ones, so no cache keyed by data can serve a timed pass
      val warmUp = i < WarmPasses
      val k = i - WarmPasses
      // traced runs alternate traced and untraced full passes. The first
      // full pass is traced, so the per-layer figures come from the same
      // point of the JIT's warming as an untraced run's timed pass; the
      // untraced ones give the overhead baseline
      val traced = a.trace && k % 2 == 0
      if (traced) tr.attach(listener) else tr.detach()
      tr.startPass(i)
      tr.cachePeakBytes = 0L
      val t0 = System.nanoTime()
      val out =
        try Some(wl.pass(spark, tr, if (warmUp) warm else full))
        catch { case NonFatal(e) => threw(s"pass $i", e); None }
      val wall = (System.nanoTime() - t0) / 1e9
      mark(s"pass$i")
      // the first full pass's outputs are checked in full, untimed
      val checked = out.filter(_ => k == 0).map { o =>
        try o.verify() catch { case NonFatal(e) => Checked(Seq(s"check threw $e")) }
      }
      checked.foreach(c => check(c.failures))
      if (checked.isDefined) mark("check")
      passes += PassRec(i, traced, warmUp, wall, tr.cachePeakBytes / 1048576.0, out,
        checked.map(_.extras).getOrElse(Map.empty))
      Workloads.releaseAll(spark)
      if (!warmUp) timed += wall
    }
    tr.detach()

    // outputs repeat across full passes, and on the default seed they
    // equal the digest pinned in the benchmark's files
    val digests = passes.filterNot(_.warmUp).flatMap(_.out.map(_.digest)).distinct
    check(if (digests.length > 1) Seq(s"outputs differ between passes: ${digests.mkString(" ")}")
      else Nil)
    a.pinned.filter(_ => a.seed == DefaultSeed).foreach { file =>
      val p = Pinned.read(file, wl.name)
      check(if (p.nonEmpty && p == digests.headOption) Nil
        else Seq(s"digest ${digests.mkString(" ")} differs from the pinned ${p.getOrElse("(none)")}"))
    }

    spark.stop()
    mark("stop")
    val loadEnd = loadAvg()

    val plain = passes.filter(p => !p.traced && !p.warmUp && p.out.isDefined)
    val plainIdx = plain.map(_.index).toSet
    def plainSpans(n: String) = tr.spans.filter(s => s.name == n && plainIdx(s.pass)).map(_.wallS)
    def extra(k: String) = plain.flatMap(_.out.flatMap(_.extras.get(k))).toSeq
    val attempted = tr.spans.length + checks + failedOps
    val e2e = ArrayBuffer[(String, Double, String)](
      ("setup_s", median(setupS.toSeq), "s"))
    if (plain.nonEmpty) {
      e2e += (("wall_s", median(plain.map(_.wallS).toSeq), "s"))
      e2e += (("cache_peak_mib", median(plain.map(_.cachePeakMiB).toSeq), "MiB"))
      if (wl eq Workloads.WccBatchStream) {
        e2e += (("bulk_s", median(plainSpans("idwcc_prepare").toSeq), "s"))
        e2e += (("batch_p50_s", median(plainSpans("idwcc_batch").toSeq), "s"))
        e2e += (("stream_edges_per_s", median(extra("stream_edges_per_s")), "edges/s"))
      }
    }
    e2e += (("fail_ratio", failedOps.toDouble / math.max(1, attempted), "ratio"))

    val inputs = full.describe
    val report = Json.obj(
      "workload" -> wl.name, "seed" -> a.seed, "trace" -> a.trace,
      "inputs" -> inputs,
      "passes" -> passes.length,
      "pass_wall_s" -> passes.map(_.wallS).toSeq,
      "timeline_s" -> Json.obj(timeline.toSeq: _*),
      "span_wall_s" -> tr.spans.groupBy(_.name).map { case (k, v) => k -> v.map(_.wallS).toSeq },
      "digest" -> digests.headOption.getOrElse(""),
      "metrics" -> metricsJson(e2e.toSeq),
      "extras" -> passes.find(!_.warmUp).map(_.checkExtras).getOrElse(Map.empty),
      "failures" -> failures.toSeq)
    println("perfbench report " + report)

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) e2e.filter { case (k, _, _) => Main.EndToEnd.contains(k) }.toSeq
      else {
        val tracedIdx = passes.filter(_.traced).map(_.index).toSet
        val own = tr.spans.filter(s => tracedIdx(s.pass))
        val spanMetrics = for (span <- allSpans; c <- Tracer.Counters) yield {
          val recs = own.filter(_.name == span)
          // a span this workload never calls did no work
          val v = if (recs.isEmpty) 0.0 else median(recs.map(Tracer.counter(tr, _, c)).toSeq)
          (s"$span.$c", v, counterUnits(c))
        }
        // storage memory drifts with asynchronous unpersists, so its peak
        // is a per-layer figure of the traced passes, not a gated one
        val perLayer = spanMetrics :+ (("cache_peak_mib",
          median(passes.filter(_.traced).map(_.cachePeakMiB).toSeq), "MiB"))
        val tracedWall = passes.filter(p => p.traced && p.out.isDefined).map(_.wallS)
        val overhead =
          if (tracedWall.isEmpty || plain.isEmpty) 0.0
          else median(tracedWall.toSeq) - median(plain.map(_.wallS).toSeq)
        val traceFile = a.workDir.resolve("trace").resolve(s"${wl.name}-seed${a.seed}.json")
        Files.createDirectories(traceFile.getParent)
        def spanJson(s: SpanRec) = Json.obj(Seq("span" -> (s.name: Any), "pass" -> s.pass) ++
          Tracer.Counters.map(c => c -> (Tracer.counter(tr, s, c): Any)): _*)
        Files.write(traceFile, Json.obj(
          "workload" -> wl.name, "seed" -> a.seed,
          "loadavg_start" -> loadStart, "loadavg_end" -> loadEnd,
          "inputs" -> inputs,
          "tracing_overhead_s" -> overhead,
          "passes" -> passes.map(p => Json.obj("pass" -> p.index, "traced" -> p.traced,
            "wall_s" -> p.wallS, "cache_peak_mib" -> p.cachePeakMiB)).toSeq,
          "batch_latencies_s" -> tr.spans.filter(_.name == "idwcc_batch").map(s =>
            Json.obj("pass" -> s.pass, "wall_s" -> s.wallS)).toSeq,
          "spans" -> tr.spans.map(spanJson).toSeq,
          "per_layer" -> metricsJson(perLayer),
          "end_to_end" -> metricsJson(e2e.toSeq)
        ).toString.getBytes(StandardCharsets.UTF_8))
        println(s"perfbench trace $traceFile tracing_overhead_s=$overhead")
        perLayer
      }
    println(Json.obj(
      "correct" -> failures.isEmpty,
      "attempted" -> attempted,
      "failed" -> failedOps,
      "metrics" -> metricsJson(metrics)))
  }

  def metricsJson(ms: Seq[(String, Double, String)]): Json =
    Json.obj(ms.map { case (k, v, u) => k -> Json.obj("value" -> v, "unit" -> u) }: _*)

  /** The end-to-end metrics every workload reports on its last line. */
  val EndToEnd: Seq[String] = Seq("setup_s", "wall_s")
}
