package graft.bench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftSqlShim, SparkSession}

/** One timed interval. `parent` is -1 for a pass (the root of each tree);
  * spans of one benchmark run share `run`.
  */
final case class Span(
    id: Int,
    parent: Int,
    name: String,
    startNs: Long,
    endNs: Long,
    run: String,
    attrs: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Task-level totals of every job the session ran since it was registered:
  * the benchmark's own listener, so the engine's loop listener is neither
  * needed nor disturbed. Read only after [[GraftSqlShim.waitListenerBus]],
  * or trailing task-end events of the call just timed are missed.
  */
final class TaskTotals extends SparkListener {
  private val taskMs, shuffleRead, shuffleWrite, spill, input, output, gcMs =
    new AtomicLong
  private val peakExec = new AtomicLong

  override def onTaskEnd(ev: SparkListenerTaskEnd): Unit = {
    val m = ev.taskMetrics
    if (m == null) return
    taskMs.addAndGet(m.executorRunTime)
    shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
    shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    input.addAndGet(m.inputMetrics.bytesRead)
    output.addAndGet(m.outputMetrics.bytesWritten)
    gcMs.addAndGet(m.jvmGCTime)
    peakExec.accumulateAndGet(m.peakExecutionMemory, math.max)
  }

  /** Totals so far; the peak is reset, so each read covers one window. */
  def snapshot(): Map[String, Double] = Map(
    "task_ms" -> taskMs.get.toDouble,
    "shuffle_read_bytes" -> shuffleRead.get.toDouble,
    "shuffle_write_bytes" -> shuffleWrite.get.toDouble,
    "spill_bytes" -> spill.get.toDouble,
    "input_bytes" -> input.get.toDouble,
    "output_bytes" -> output.get.toDouble,
    "task_gc_ms" -> gcMs.get.toDouble,
    "peak_exec_mb" -> peakExec.getAndSet(0L) / 1048576.0)
}

/** Records spans in memory; they are written out when the run ends.
  *
  * Call spans are always taken: their durations are the benchmark's
  * timings. With `traced` set, each call span also gets a listener window
  * (task time, shuffle, spill, scan and sink bytes, peak execution memory)
  * and JVM GC time, and algorithm calls get one child span per superstep
  * from the `IterStats` they return; that is the overhead a traced run
  * reports against untraced passes.
  */
final class Tracer(spark: SparkSession, val run: String) {
  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var traced = false
  private lazy val totals = {
    val t = new TaskTotals
    spark.sparkContext.addSparkListener(t)
    t
  }

  def all: Seq[Span] = spans.toSeq

  /** Whether the spans that follow take listener windows and superstep
    * children.
    */
  def setTraced(on: Boolean): Unit = traced = on

  private def window(): Map[String, Double] = {
    GraftSqlShim.waitListenerBus(spark)
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    totals.snapshot() + ("gc_ms" -> gc.toDouble)
  }

  /** Times `body` as a span under the innermost open span. The listener
    * window is read outside the timed interval.
    */
  def span[T](name: String, attrs: Map[String, Double] = Map.empty)(body: => T): T = {
    val before = if (traced && open.nonEmpty) window() else Map.empty[String, Double]
    val id = spans.size
    spans += Span(id, open.headOption.getOrElse(-1), name, 0L, 0L, run, attrs)
    open = id :: open
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open = open.tail
      val delta =
        if (before.isEmpty) Map.empty[String, Double]
        else {
          val after = window()
          after.map { case (k, v) =>
            k -> (if (k == "peak_exec_mb") v else v - before(k))
          }
        }
      spans(id) = spans(id).copy(startNs = t0, endNs = t1,
        attrs = spans(id).attrs ++ delta)
    }
  }

  /** Adds attributes to a finished span (counts known only after a call). */
  def annotate(id: Int, attrs: Map[String, Double]): Unit =
    spans(id) = spans(id).copy(attrs = spans(id).attrs ++ attrs)

  /** Id of the span most recently opened. */
  def lastId: Int = spans.size - 1

  /** Child spans of `parent` with known durations but no timestamps of
    * their own (supersteps from `IterStats`): laid back to back so that
    * they end where the parent ends. Only taken in traced passes.
    */
  def children(parent: Int, kids: Seq[(String, Long, Map[String, Double])]): Unit =
    if (traced) {
      var t = spans(parent).endNs - kids.map(_._2).sum
      kids.foreach { case (name, durNs, attrs) =>
        spans += Span(spans.size, parent, name, t, t + durNs, run, attrs)
        t += durNs
      }
    }
}
