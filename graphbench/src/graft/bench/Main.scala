package graft.bench

import java.nio.file.{Files, Path}
import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Outside-in benchmark of the link-graph engine: one process, one
  * `SparkSession` at local[nproc], one caller in a closed loop. It times
  * calls into the engine's public functions, checks every output against
  * the serial oracles or the generator, and prints one JSON line last:
  *
  * {{{
  * graft.bench.Main --workload graph_suite --seed 1 --seconds 10 --trace 0 --work DIR
  * }}}
  *
  * `DIR` holds the run's files, the oracle cache and the traces. Workload
  * rationale is in the benchmark's README.md.
  */
object Main {
  /** graph_suite: random graph of this many nodes, density 10. */
  val GraphNodes = 5000
  /** extract_scan: pages of the same generator. */
  val Pages = 40000
  /** Input generations during setup; setup_s takes their median. */
  val Generations = 3

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: Path)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    require(kv.size * 2 == args.length, s"arguments must be --key value pairs: ${args.mkString(" ")}")
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") match { case "0" => false; case "1" => true; case t => sys.error(s"--trace $t") },
      Path.of(need("work")).toAbsolutePath)
  }

  def workload(name: String, spark: SparkSession, work: Path, seed: Long,
               cache: Path): Workload = name match {
    case "graph_suite" => new GraphSuite(spark, work, GraphNodes, seed, cache)
    case "extract_scan" => new ExtractScan(spark, work, Pages, seed)
    case other => sys.error(s"unknown workload '$other' (graph_suite, extract_scan)")
  }

  private def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def session(nproc: Int, dir: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("graphbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.default.parallelism", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.cleaner.periodicGC.interval", "45s")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Peak resident memory of this process (VmHWM), in MiB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(sys.error("no VmHWM in /proc/self/status"))

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val args = parse(argv)
    val nproc = Runtime.getRuntime.availableProcessors
    val runId = s"${args.workload}-seed${args.seed}-${ProcessHandle.current.pid}"
    val dir = args.work.resolve("runs").resolve(runId)
    val cache = args.work.resolve("oracle")
    Files.createDirectories(dir)

    var spark: SparkSession = null
    val sessionS = seconds {
      spark = session(nproc, dir)
      spark.range(1).count()
    }
    try {
      val w = workload(args.workload, spark, dir.resolve("input"), args.seed, cache)
      val gens = (1 to Generations).map(_ => seconds(w.generate()))
      val expectS = seconds(w.expect())
      val warmS = seconds(w.warmUp(new Tracer(spark, s"$runId-warmup")))
      val setupS = sessionS + Metrics.median(gens) + warmS

      val tracer = new Tracer(spark, runId)
      val ledger = new Ledger
      val passes = scala.collection.mutable.ArrayBuffer.empty[Pass]
      var measured = 0.0
      while (passes.isEmpty || measured < args.seconds || (args.trace && passes.size < 2)) {
        // a traced run alternates untraced and traced passes
        val traced = args.trace && passes.size % 2 == 1
        tracer.setTraced(traced)
        val done = ledger.attempted
        val from = tracer.all.size
        tracer.span("pass", Map("traced" -> (if (traced) 1.0 else 0.0))) {
          try w.pass(tracer, ledger)
          catch {
            case e: Exception =>
              e.printStackTrace()
              ledger.fail(w.opsPerPass - (ledger.attempted - done), s"pass ${passes.size}: $e")
          }
        }
        val spans = tracer.all.drop(from)
        val pass = Pass(spans.head, spans.tail)
        passes += pass
        measured += pass.wall
      }
      w.close()

      val untraced = passes.toSeq.filterNot(_.traced)
      val rss = peakRssMb()
      val endToEnd: Metrics.Table = ListMap(
        "wall_s" -> ((Metrics.median(untraced.map(_.wall)), "s")),
        "setup_s" -> (setupS, "s"),
        "edges_per_s" -> ((Metrics.median(untraced.map(p => w.edgesPerSecond(p.spans))), "1/s")),
        "peak_rss_mb" -> (rss, "MB"),
        "ok_ratio" -> (Metrics.ratio(ledger.attempted - ledger.failed, ledger.attempted), "ratio"))
      val metrics =
        if (args.trace) Metrics.perLayer(passes.toSeq.filter(_.traced), untraced.map(_.wall))
        else endToEnd

      val json = new ObjectMapper().registerModule(DefaultScalaModule)
      val context = ListMap(
        "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds,
        "trace" -> args.trace, "nproc" -> nproc,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "pass_walls" -> passes.map(_.wall).toSeq, "setup" -> ListMap(
          "session_s" -> sessionS, "generate_s" -> gens, "warmup_s" -> warmS, "expect_s" -> expectS),
        "end_to_end" -> endToEnd.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) },
        "failures" -> ledger.failures.toSeq)
      if (args.trace) {
        val out = args.work.resolve("traces").resolve(s"$runId.json")
        Files.createDirectories(out.getParent)
        json.writeValue(out.toFile, context + ("spans" -> tracer.all))
        System.err.println(s"[graphbench] spans written to $out")
      }
      println(json.writeValueAsString(context))
      println(json.writeValueAsString(ListMap(
        "correct" -> (ledger.failed == 0),
        "attempted" -> ledger.attempted,
        "failed" -> ledger.failed,
        "metrics" -> metrics.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) })))
    } finally {
      spark.stop()
      Dirs.delete(dir)
    }
  }
}
