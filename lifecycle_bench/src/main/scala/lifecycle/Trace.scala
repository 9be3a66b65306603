package lifecycle

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Cumulative Spark work counts, fed by the listener bus. */
final class SparkCounts extends SparkListener {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def snapshot: Array[Long] =
    Array(jobs.get, tasks.get, shuffleBytes.get, spillBytes.get)
}

/** One span: a benchmark operation or a call into a layer. Counts are
  * inclusive of child spans. */
final case class Span(id: Int, name: String, phase: String, parent: Int,
                      op: Long, startNs: Long, endNs: Long,
                      jobs: Long, tasks: Long, shuffleBytes: Long,
                      spillBytes: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Span recorder. With tracing off every method just runs its body.
  * With tracing on, each span drains the listener bus on entry and
  * exit, so the cumulative counts settled at its two boundaries give
  * exactly the jobs, tasks and bytes of the work it enclosed (the
  * client is one thread, so spans nest strictly). Spans stay in memory
  * until [[write]]. The drains happen outside the timed interval. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val counts = new SparkCounts
  if (enabled) sc.addSparkListener(counts)

  private val spans = ArrayBuffer.empty[Span]
  private val stack = scala.collection.mutable.Stack.empty[(Int, Long)]
  private var nextId = 0
  private var nextOp = 0L
  var phase: String = ""

  private def drain(): Array[Long] = {
    org.apache.spark.lifecycle.BusDrain(sc)
    counts.snapshot
  }

  private def span[T](name: String, op: Long)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      val c0 = drain()
      stack.push((id, op))
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        val c1 = drain()
        spans += Span(id, name, phase, parent, op, t0, t1,
          c1(0) - c0(0), c1(1) - c0(1), c1(2) - c0(2), c1(3) - c0(3))
      }
    }

  /** A benchmark operation: the spans opened inside share its id. */
  def op[T](name: String)(f: => T): T = {
    val id = nextOp; nextOp += 1
    span(name, id)(f)
  }

  /** A call into a program layer, named `Module.verb`. */
  def call[T](name: String)(f: => T): T =
    span(name, stack.headOption.map(_._2).getOrElse(-1L))(f)

  def all: Seq[Span] = spans.toSeq

  /** Self time: a span's duration minus the part its children cover
    * (children never overlap: one client thread). */
  def selfMs: Map[Int, Double] = {
    val childMs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    spans.map(s => s.id -> (s.ms - childMs.getOrElse(s.id, 0.0))).toMap
  }

  private val phaseCounts = scala.collection.mutable.LinkedHashMap.empty[String, Array[Long]]
  private var phaseStart: Option[Array[Long]] = None

  /** Start a lifecycle phase: later spans carry its name, and its
    * Spark counts accumulate until [[endPhase]]. */
  def beginPhase(p: String): Unit = {
    endPhase()
    phase = p
    if (enabled) phaseStart = Some(drain())
  }

  /** Close the current phase's counts. */
  def endPhase(): Unit = phaseStart.foreach { c0 =>
    phaseCounts(phase) = drain().zip(c0).map { case (a, b) => a - b }
    phaseStart = None
  }

  /** Spill bytes of every task run during phase `p`. */
  def phaseSpill(p: String): Long = phaseCounts.get(p).map(_(3)).getOrElse(0L)

  /** Every span, plus self time summed per layer and phase, as JSON. */
  def write(path: java.nio.file.Path): Unit = {
    val self = selfMs
    val sb = new StringBuilder("{\"spans\": [\n")
    spans.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id": ${s.id}, "name": ${Json.str(s.name)}, "phase": ${Json.str(s.phase)}, """ +
        s""""parent": ${s.parent}, "op": ${s.op}, "start_ns": ${s.startNs}, "end_ns": ${s.endNs}, """ +
        s""""self_ms": ${self(s.id)}, "jobs": ${s.jobs}, "tasks": ${s.tasks}, """ +
        s""""shuffle_bytes": ${s.shuffleBytes}, "spill_bytes": ${s.spillBytes}}""")
    }
    sb.append("\n],\n\"self_ms_by_layer\": {")
    val byLayer = spans.groupBy(s => s"${s.phase}/${Tracer.layerOf(s.name)}")
      .map { case (k, ss) => k -> ss.map(s => self(s.id)).sum }.toSeq.sortBy(_._1)
    sb.append(byLayer.map { case (k, v) => s"${Json.str(k)}: $v" }.mkString(", "))
    sb.append("}}\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Tracer {
  /** `Module.verb` -> `Module`; operation spans are the benchmark's own. */
  def layerOf(name: String): String =
    if (name.startsWith("op:")) "bench" else name.takeWhile(_ != '.')
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
}
