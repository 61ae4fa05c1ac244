package graft.bench

import scala.collection.immutable.ListMap

/** One pass: its root span and every span below it. */
final case class Pass(root: Span, spans: Seq[Span]) {
  def traced: Boolean = root.attrs.get("traced").contains(1.0)
  /** Time in the pass's calls, without the checks between them. */
  def wall: Double = spans.filter(_.parent == root.id).map(_.seconds).sum
}

/** End-to-end and per-layer metrics, computed from the spans of a run. */
object Metrics {
  type Table = ListMap[String, (Double, String)]

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  /** The highest whole percentile with at least ten samples above its
    * nearest-rank value, as (percentile, value); the maximum, as 100, when
    * there are ten samples or fewer.
    */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val s = xs.sorted
    if (s.isEmpty) (0, 0.0)
    else if (s.size <= 10) (100, s.last)
    else {
      val p = 100 * (s.size - 10) / s.size
      (p, s(math.max(1, math.ceil(p / 100.0 * s.size).toInt) - 1))
    }
  }

  /** Per-layer metrics over the traced passes, with the wall times of the
    * untraced passes of the same run for the tracing overhead.
    */
  def perLayer(tracedPasses: Seq[Pass], untracedWalls: Seq[Double]): Table = {
    val traced = tracedPasses.map(_.spans)
    val children = traced.flatten.groupBy(_.parent)
    def self(s: Span) = s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum
    def named(ps: Seq[Span], names: String*) = ps.filter(s => names.contains(s.name))
    def secs(names: String*)(ps: Seq[Span]) = named(ps, names: _*).map(_.seconds).sum
    def attr(key: String, names: String*)(ps: Seq[Span]) =
      ps.filter(s => names.isEmpty || names.contains(s.name))
        .flatMap(_.attrs.get(key)).sum
    def perPass(f: Seq[Span] => Double) = median(traced.map(f))
    val all = traced.flatten

    val io = ListMap(
      "io.scan_s" -> (perPass(secs("io.scan")), "s"),
      "io.scan_bytes" -> (perPass(attr("input_bytes", "io.scan")), "bytes"),
      "io.sink_s" -> (perPass(secs("io.sink.links", "io.sink.text")), "s"),
      "io.sink_bytes" -> (perPass(attr("output_bytes", "io.sink.links", "io.sink.text")), "bytes"))
    val extract = ListMap(
      "extract.links_s" -> (perPass(secs("extract.links")), "s"),
      "extract.links" -> (perPass(attr("links", "extract.links")), "count"),
      "extract.text_s" -> (perPass(secs("extract.text")), "s"),
      "extract.text_bytes" -> (perPass(attr("text_bytes", "extract.text")), "bytes"),
      "extract.task_ms" -> (perPass(attr("task_ms", "extract.links", "extract.text")), "ms"),
      "extract.pages_per_s" -> (median(tracedPasses.map(p =>
        ratio(attr("pages", "io.scan")(p.spans), p.wall))), "1/s"))

    def loop(a: String): Table = {
      val steps = named(all, s"$a.step")
      def stepSum(k: String) = steps.map(_.attrs(k)).sum
      val ms = steps.map(_.seconds * 1e3)
      val (pct, tailMs) = tail(ms)
      val n = steps.size.toDouble
      ListMap(
        s"$a.call_s" -> (perPass(secs(s"$a.call")), "s"),
        s"$a.setup_s" -> (perPass(ps => named(ps, s"$a.call").map(self).sum), "s"),
        s"$a.supersteps" -> (perPass(ps => named(ps, s"$a.step").size.toDouble), "count"),
        s"$a.step_med_ms" -> (median(ms), "ms"),
        s"$a.step_tail_ms" -> (tailMs, "ms"),
        s"$a.step_tail_pct" -> (pct.toDouble, "pct"),
        s"$a.gather_ms" -> (median(steps.map(_.attrs("gather_ms"))), "ms"),
        s"$a.apply_ms" -> (median(steps.map(_.attrs("apply_ms"))), "ms"),
        s"$a.driver_ms_per_step" -> (ratio(ms.sum - stepSum("gather_ms") - stepSum("apply_ms"), n), "ms"),
        s"$a.task_ms_per_step" -> (ratio(stepSum("task_ms"), n), "ms"),
        s"$a.shuffle_bytes_per_step" -> (ratio(stepSum("shuffle_bytes"), n), "bytes"),
        s"$a.changed_ratio" -> (ratio(stepSum("changed"), stepSum("rows")), "ratio"))
    }

    val tc = ListMap(
      "tc.call_s" -> (perPass(secs("tc.call")), "s"),
      "tc.task_ms" -> (perPass(attr("task_ms", "tc.call", "tc.result")), "ms"),
      "tc.shuffle_bytes" -> (perPass(attr("shuffle_write_bytes", "tc.call")), "bytes"))

    def resumed(ps: Seq[Span]) = ps.filter(_.attrs.get("resumed").contains(1.0))
    val ckpt = ListMap(
      "ckpt.count" -> (perPass(attr("ckpt_count")), "count"),
      "ckpt.write_ms" -> (perPass(secs("ckpt.write")) * 1e3, "ms"),
      "ckpt.bytes" -> (perPass(attr("ckpt_bytes")), "bytes"),
      "ckpt.resume_load_s" -> (perPass(ps =>
        resumed(ps).filter(_.name.endsWith(".call")).map(self).sum), "s"),
      "ckpt.resumed_from" -> (perPass(attr("resumed_from")), "count"),
      "ckpt.resume_s" -> (perPass(ps => resumed(ps).map(_.seconds).sum), "s"))

    val jvm = ListMap(
      "jvm.gc_ms" -> (perPass(attr("gc_ms")), "ms"),
      "jvm.spill_bytes" -> (perPass(attr("spill_bytes")), "bytes"),
      "jvm.peak_exec_mem_mb" -> (all.flatMap(_.attrs.get("peak_exec_mb")).maxOption.getOrElse(0.0), "MB"))

    val tracedWall = median(tracedPasses.map(_.wall))
    val trace = ListMap(
      "trace.wall_s" -> (tracedWall, "s"),
      "trace.overhead_s" -> (tracedWall - median(untracedWalls), "s"))

    io ++ extract ++ loop("lp") ++ loop("pr") ++ loop("cc") ++ tc ++ ckpt ++ jvm ++ trace
  }
}
