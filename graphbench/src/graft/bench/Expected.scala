package graft.bench

import java.io._
import java.nio.file.{Files, Path}

import graft.gen.{SyntheticGraph, SyntheticPages}
import graft.oracle.SerialOracles

/** Expected per-vertex outputs of [[GraphSuite]]'s calls,
  * indexed by vertex id (every vertex of a density ≥ 1 random graph has
  * out-edges, so the ids are exactly 0 until n). `NoLabel` marks a vertex
  * LP never labels.
  */
final case class GraphOracle(
    lpStopped: Array[Long],
    lp: Array[Long],
    pr: Array[Double],
    cc: Array[Long],
    tc: Array[Long]) extends Serializable

object Expected {
  val NoLabel: Long = Long.MinValue

  /** Serial oracles for G(n, density, seed) under the calls' superstep
    * caps, read from `cache` when a run with the same key computed them
    * before.
    * `SerialOracles.pageRank` alone takes about a minute at a million edges,
    * so this is never inside a timed window and never repeated for the same
    * seed and size.
    */
  def graph(cache: Path, n: Int, density: Int, seed: Long,
            caps: GraphSuite.Caps): GraphOracle = {
    val file = cache.resolve(s"graph-seed$seed-n$n-d$density-${caps.key}.bin")
    require(caps.cc == Int.MaxValue, "the CC oracle runs to convergence")
    if (Files.exists(file)) {
      val in = new ObjectInputStream(new BufferedInputStream(Files.newInputStream(file)))
      try return in.readObject().asInstanceOf[GraphOracle] finally in.close()
    }
    val edges = SyntheticGraph.randomEdgesLocal(n, density, seed)
    val seeds = SyntheticGraph.seedsLocal(n)
    val vertices = 0L until n
    def labels(maxIter: Int) = SerialOracles.labelPropagation(n, edges, seeds, maxIter)
      .map(_.getOrElse(NoLabel))
    def ranks(maxIter: Int) = {
      val m = SerialOracles.pageRank(vertices, edges, maxIter = maxIter)
      Array.tabulate(n)(i => m(i.toLong))
    }
    def dense(m: Map[Long, Long]) = Array.tabulate(n)(i => m(i.toLong))
    val oracle = GraphOracle(
      labels(caps.lpStop), labels(caps.lpEnd),
      ranks(caps.pr),
      dense(SerialOracles.connectedComponents(vertices, edges)),
      dense(SerialOracles.triangleCounts(vertices, edges)))
    Files.createDirectories(cache)
    val tmp = Files.createTempFile(cache, file.getFileName.toString, ".tmp")
    val out = new ObjectOutputStream(new BufferedOutputStream(Files.newOutputStream(tmp)))
    try out.writeObject(oracle) finally out.close()
    Files.move(tmp, file, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    oracle
  }

  /** Each page's link targets as urls, in generator order, straight from
    * the serial edge generator the pages' html embeds.
    */
  def links(n: Int, density: Int, seed: Long): Array[Array[String]] = {
    val out = Array.fill(n)(new Array[String](density))
    SyntheticGraph.randomEdgesLocal(n, density, seed).zipWithIndex.foreach {
      case ((src, dst), k) => out(src.toInt)(k % density) = SyntheticPages.urlOf(dst)
    }
    out
  }

  /** Extracted text of page i, written out from the page template: title,
    * body sentence, then the anchor texts; script and tags dropped.
    */
  def text(i: Long, density: Int): String = {
    val lang = if (i % 2 == 0) "en" else "es"
    val anchors = (0 until density).map(j => s"l$j").mkString(" ")
    s"p$i Page $i in $lang. The quick crawl indexed node $i. $anchors"
  }
}
