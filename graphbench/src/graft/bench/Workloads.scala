package graft.bench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.algo.{ConnectedComponents, LabelPropagation, PageRank, Superstep, TriangleCount}
import graft.extract.LinkExtract
import graft.gen.{SyntheticGraph, SyntheticPages}
import graft.io.PagesSource
import graft.model._

/** Checked operations: one per engine call whose output is compared. The
  * warm-up's ledger does not check.
  */
final class Ledger(checking: Boolean = true) {
  var attempted = 0L
  var failed = 0L
  val failures = scala.collection.mutable.ArrayBuffer.empty[String]

  /** Counts one operation; it fails when any output row mismatches. */
  def check(op: String)(mismatches: => Long): Unit = if (checking) {
    attempted += 1
    val bad = mismatches
    if (bad != 0) fail(1, s"$op: $bad mismatching rows")
  }

  def fail(ops: Long, why: String): Unit = {
    attempted += ops
    failed += ops
    failures += why
    System.err.println(s"[graphbench] FAIL $why")
  }
}

object Dirs {
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum()
      finally s.close()
    }
}

/** A workload: inputs made from the seed, a pass of checked engine calls,
  * and a rate measured over one pass's spans.
  */
abstract class Workload(val spark: SparkSession, val work: Path) {
  /** Checked operations in one pass. */
  def opsPerPass: Int
  /** Untimed calls before timing starts, so that the JIT has compiled the
    * paths the measured passes take.
    */
  def warmUp(t: Tracer): Unit
  /** Generates the inputs and materializes them; repeated during setup. */
  def generate(): Unit
  /** Computes expected outputs; never timed. */
  def expect(): Unit
  def pass(t: Tracer, l: Ledger): Unit
  /** Edges processed per second of engine time in one pass. */
  def edgesPerSecond(spans: Seq[Span]): Double
  def close(): Unit

  /** Output rows that are unknown, repeated or different from `want`, plus
    * expected rows that are missing.
    */
  protected def mismatches[V](got: Iterator[(Long, V)], n: Int,
                              want: Int => Option[V], same: (V, V) => Boolean): Long = {
    val seen = new Array[Boolean](n)
    var bad = 0L
    got.foreach { case (id, v) =>
      if (id < 0 || id >= n || seen(id.toInt)) bad += 1
      else {
        seen(id.toInt) = true
        if (!want(id.toInt).exists(same(_, v))) bad += 1
      }
    }
    bad + (0 until n).count(i => !seen(i) && want(i).isDefined)
  }
}

/** The reference-topology random graph with every 10th node seeded,
  * materialized once. A pass runs LP stopped early with durable
  * checkpoints, the same LP call resumed from them, then PageRank, CC and
  * triangle count.
  */
final class GraphSuite(spark: SparkSession, work: Path, n: Int, seed: Long,
                       oracleCache: Path, caps: GraphSuite.Caps = GraphSuite.Measured)
    extends Workload(spark, work) {
  import GraphSuite._
  val Density = 10
  val opsPerPass = 5
  private var edges: Dataset[Edge] = _
  private var seeds: Dataset[Seed] = _
  private var oracle: GraphOracle = _

  def generate(): Unit = {
    close()
    edges = SyntheticGraph.randomEdges(spark, n, Density, seed)
      .persist(StorageLevel.MEMORY_AND_DISK)
    seeds = SyntheticGraph.seeds(spark, n).persist(StorageLevel.MEMORY_AND_DISK)
    require(edges.count() == n.toLong * Density && seeds.count() == (n + 9) / 10)
  }

  def expect(): Unit = oracle = Expected.graph(oracleCache, n, Density, seed, caps)

  /** One unchecked pass on a graph of [[WarmUpNodes]] with one superstep
    * per call. The calls' costs here are mostly per job, whatever the
    * graph size, so this warms every call, checkpoint write and resume path
    * in a fraction of a measured pass's time.
    */
  def warmUp(t: Tracer): Unit = {
    val small = new GraphSuite(spark, work.resolve("warmup"), WarmUpNodes, seed, oracleCache,
      WarmUp)
    small.generate()
    small.pass(t, new Ledger(checking = false))
    small.close()
  }

  def close(): Unit = {
    if (edges != null) edges.unpersist(blocking = true)
    if (seeds != null) seeds.unpersist(blocking = true)
  }

  /** Input edges × supersteps over the time in the LP, PageRank and CC
    * calls.
    */
  def edgesPerSecond(spans: Seq[Span]): Double = {
    val calls = spans.filter(_.attrs.contains("edge_steps"))
    Metrics.ratio(calls.map(_.attrs("edge_steps")).sum, calls.map(_.seconds).sum)
  }

  private def sameLabel(a: Long, b: Long) = a == b
  private def closeRank(a: Double, b: Double) = math.abs(a - b) <= 1e-6

  private def labelsWrong(got: Array[VertexLabel], want: Array[Long]): Long =
    mismatches(got.iterator.map(v => v.id -> v.label), n,
      i => Option(want(i)).filter(_ != Expected.NoLabel), sameLabel)

  private def ranksWrong(got: Array[VertexRank], want: Array[Double]): Long =
    mismatches(got.iterator.map(v => v.id -> v.rank), n, i => Some(want(i)), closeRank)

  private def valuesWrong(got: Iterator[(Long, Long)], want: Array[Long]): Long =
    mismatches(got, n, i => Some(want(i)), sameLabel)

  /** Times one algorithm call and its result read. In traced passes the
    * call gets a child span per superstep and per checkpoint write, from
    * the `IterStats` the call returns.
    */
  private def algo[R, O](t: Tracer, name: String, attrs: Map[String, Double] = Map.empty)
                        (call: => R)(stats: R => List[Superstep.IterStats])
                        (result: R => O)(release: R => Unit): (R, O, Int) = {
    val r = t.span(s"$name.call", attrs)(call)
    val id = t.lastId
    val st = stats(r)
    if (st.nonEmpty) t.annotate(id, Map("edge_steps" -> n.toDouble * Density * st.size))
    t.children(id, st.flatMap { s =>
      def phase(p: String) = s.phases.filter(_.phase == p).map(_.wallMs).sum.toDouble
      val step = (s"$name.step", s.computeMs * 1000000L, Map(
        "iteration" -> s.iteration.toDouble,
        "changed" -> s.changed.toDouble,
        "rows" -> s.rows.toDouble,
        "gather_ms" -> phase("gather"),
        "apply_ms" -> phase("apply"),
        "task_ms" -> s.phases.map(_.taskTimeMs).sum.toDouble,
        "shuffle_bytes" -> s.phases.map(_.shuffleWriteBytes).sum.toDouble))
      if (s.checkpointMs > 0)
        List(step, ("ckpt.write", s.checkpointMs * 1000000L, Map.empty[String, Double]))
      else List(step)
    })
    val out = t.span(s"$name.result", attrs)(result(r))
    release(r)
    (r, out, id)
  }

  private def manifests(dir: Path): Int =
    if (!Files.exists(dir)) 0
    else {
      val s = Files.list(dir)
      try s.filter(d => Files.exists(d.resolve("manifest.json"))).count().toInt
      finally s.close()
    }

  /** The stopped call, then the same call resumed from its newest
    * checkpoint, on a fresh checkpoint dir.
    */
  private def stopAndResume[R, O](t: Tracer, l: Ledger, name: String, stop: RunConfig,
                                  end: RunConfig)(call: RunConfig => R)(
      stats: R => List[Superstep.IterStats])(result: R => O)(release: R => Unit)(
      wrong: (O, Boolean) => Long): Unit = {
    val dir = Path.of(stop.checkpointDir.get)
    Dirs.delete(dir)
    val (_, stopped, id0) = algo(t, name, Map("resumed" -> 0.0))(call(stop))(stats)(
      result)(release)
    t.annotate(id0, Map("ckpt_count" -> manifests(dir).toDouble))
    l.check(s"$name stopped at ${stop.maxIter}")(wrong(stopped, false))
    val before = manifests(dir)
    val (r, done, id1) = algo(t, name, Map("resumed" -> 1.0))(call(end))(stats)(
      result)(release)
    t.annotate(id1, Map(
      "ckpt_count" -> (manifests(dir) - before).toDouble,
      "ckpt_bytes" -> Dirs.bytes(dir).toDouble,
      "resumed_from" -> stats(r).headOption.fold(0.0)(_.iteration - 1.0)))
    l.check(s"$name resumed")(wrong(done, true))
  }

  def pass(t: Tracer, l: Ledger): Unit = {
    val lp = RunConfig(checkpointDir = Some(work.resolve("ckpt-lp").toString),
      checkpointEvery = 1, maxIter = caps.lpEnd)
    stopAndResume(t, l, "lp", lp.copy(maxIter = caps.lpStop), lp)(
      LabelPropagation.run(edges, seeds, _))(_.stats)(_.labels.collect())(_.release())(
      (got, end) => labelsWrong(got, if (end) oracle.lp else oracle.lpStopped))
    val (_, ranks, _) = algo(t, "pr")(PageRank.run(edges, maxIter = caps.pr))(_.stats)(
      _.ranks.collect())(_.release())
    l.check("pr")(ranksWrong(ranks, oracle.pr))
    val (_, comps, _) = algo(t, "cc")(
      ConnectedComponents.run(edges, RunConfig(maxIter = caps.cc)))(_.stats)(
      _.components.collect())(_.release())
    l.check("cc")(valuesWrong(comps.iterator.map(c => c.id -> c.component), oracle.cc))
    val (_, tris, _) = algo(t, "tc")(TriangleCount.run(edges))(_ => Nil)(
      _.counts.collect())(_.release())
    l.check("tc")(valuesWrong(tris.iterator.map(c => c.id -> c.triangles), oracle.tc))
  }
}

object GraphSuite {
  /** Supersteps of each call: LP stops after `lpStop`, checkpointed after
    * each, and the resumed LP call ends at `lpEnd`; PageRank's and CC's
    * caps.
    */
  final case class Caps(lpStop: Int, lpEnd: Int, pr: Int, cc: Int) {
    def key: String = s"lp$lpStop.$lpEnd-pr$pr-cc$cc"
  }

  /** LP resumes to convergence and CC runs to convergence. PageRank is
    * capped at 10 supersteps: run to tol 1e-6 it takes about 75, at
    * 0.2-0.4 s each whatever the graph size here, which would not fit one
    * run's time budget.
    */
  val Measured = Caps(3, graft.model.DefaultMaxIter, 10, Int.MaxValue)
  val WarmUp = Caps(1, 2, 1, 1)
  val WarmUpNodes = 300
}

/** Pages table → link edges and extracted text, each sunk to Parquet. Each
  * layer's output is materialized before the next layer starts, so a
  * call's span is that layer's own time.
  */
final class ExtractScan(spark: SparkSession, work: Path, n: Int, seed: Long)
    extends Workload(spark, work) {
  import spark.implicits._
  val Density = 10
  val opsPerPass = 2
  private val pagesDir = work.resolve("pages").toString
  private var links: Array[Array[String]] = _

  def generate(): Unit =
    SyntheticPages.pages(spark, n, Density, seed).write.mode("overwrite").parquet(pagesDir)

  def expect(): Unit = links = Expected.links(n, Density, seed)

  /** Three unchecked passes on the measured pages: after one small pass,
    * measured passes still ran 30-60% slower until the JIT had compiled
    * the per-row extraction paths at this size, and after two, the next
    * two passes still ran up to 40% slower.
    */
  def warmUp(t: Tracer): Unit = (1 to 3).foreach(_ => pass(t, new Ledger(checking = false)))

  def close(): Unit = Dirs.delete(work.resolve("pages"))

  def edgesPerSecond(spans: Seq[Span]): Double = {
    val used = spans.filter(s => Set("io.scan", "extract.links", "io.sink.links")(s.name))
    Metrics.ratio(used.flatMap(_.attrs.get("links")).sum, used.map(_.seconds).sum)
  }

  private def materialize[T](ds: Dataset[T]): (Dataset[T], Long) = {
    val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
    (p, p.count())
  }

  def pass(t: Tracer, l: Ledger): Unit = {
    val linksOut = work.resolve("out-links").toString
    val textOut = work.resolve("out-text").toString
    val (pages, pageCount) = t.span("io.scan")(materialize(PagesSource.load(spark, pagesDir)))
    t.annotate(t.lastId, Map("pages" -> pageCount.toDouble))
    val (edges, count) = t.span("extract.links")(materialize(LinkExtract.urlEdges(pages)))
    t.annotate(t.lastId, Map("links" -> count.toDouble))
    t.span("io.sink.links")(edges.write.mode("overwrite").parquet(linksOut))
    edges.unpersist(blocking = true)
    l.check("links")(linksWrong(spark.read.parquet(linksOut).as[UrlEdge].collect()))

    val (text, _) = t.span("extract.text")(materialize(LinkExtract.extractText(pages)))
    val textId = t.lastId
    t.span("io.sink.text")(text.write.mode("overwrite").parquet(textOut))
    text.unpersist(blocking = true)
    pages.unpersist(blocking = true)
    val got = spark.read.parquet(textOut).as[(String, String)].collect()
    t.annotate(textId, Map("text_bytes" ->
      got.map(_._2.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong).sum.toDouble))
    l.check("text")(textWrong(got))
  }

  /** Pages whose link targets differ from the generator's as a multiset,
    * plus rows from pages the generator does not have.
    */
  private def linksWrong(got: Array[UrlEdge]): Long = {
    val byPage = got.groupBy(_.src_url)
    val known = (0 until n).iterator.map(i => SyntheticPages.urlOf(i))
    var bad = 0L
    var seen = 0
    known.zipWithIndex.foreach { case (url, i) =>
      val targets = byPage.get(url).fold(Array.empty[String])(_.map(_.dst_url))
      seen += targets.length
      if (!(targets.sorted sameElements links(i).sorted)) bad += 1
    }
    bad + (got.length - seen)
  }

  /** Pages whose extracted text is not byte-identical to the template's. */
  private def textWrong(got: Array[(String, String)]): Long =
    mismatches(got.iterator.map { case (url, text) => urlIndex(url) -> text }, n,
      i => Some(Expected.text(i, Density)), (a: String, b: String) => a == b)

  /** Page index of a generator url, or -1 for any other string. */
  private def urlIndex(url: String): Long = {
    val id = url.stripPrefix("https://crawl.example/p")
    if (id.length == 12 && id.forall(_.isDigit) && SyntheticPages.urlOf(id.toLong) == url) id.toLong
    else -1L
  }
}
