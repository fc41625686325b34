package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

/** One timed call into a layer: `parent` is the span that was open on
  * the same thread when this one started (0 for a root span). */
final case class Span(id: Long, parent: Long, name: String, runId: String,
                      startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans wrap the benchmark's own calls into a
  * layer's public functions; nothing inside the engine is instrumented.
  * When disabled, `span` runs its body and records nothing, so the
  * untraced run pays one branch per call. */
final class Tracer(val enabled: Boolean, val runId: String) {
  /** Whether spans are being recorded now: a traced run switches it off
    * for the untraced units it times to measure the tracing overhead. */
  @volatile var on: Boolean = enabled
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new AtomicLong(1L)
  private val open = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId.getAndIncrement()
      val stack = open.get()
      val parent = stack.headOption.getOrElse(0L)
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(stack)
        spans.synchronized {
          spans += Span(id, parent, name, runId, t0, t1)
        }
      }
    }

  /** Whether unit `i` of a run is traced: in a traced run the units go
    * untraced, traced, traced, untraced, so warm-up drift across the
    * run cancels out of the traced-minus-untraced overhead. */
  def tracesUnit(i: Int): Boolean = enabled && (i % 4 == 1 || i % 4 == 2)

  /** Units a run needs at least: one, or four in a traced run. */
  def minUnits: Int = if (enabled) 4 else 1

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Summed duration of every span called `name`. */
  def total(name: String): Double =
    all.filter(_.name == name).map(_.seconds).sum

  /** Spans as JSON lines, written once when the run ends. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""run":${Json.str(s.runId)},"start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path,
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  /** (span, self seconds) for every span. Children may overlap when a
    * layer runs work concurrently, so their covered interval is the
    * union of their extents, clipped to the parent. */
  def selfTimes(spans: Seq[Span]): Seq[(Span, Double)] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) { covered += curB - curA; curA = a; curB = b }
        else if (b > curB) curB = b
      }
      covered += curB - curA
      s -> (s.endNs - s.startNs - covered) / 1e9
    }
  }
}

/** JVM-wide counters: peak heap across the heap pools and summed
  * collector time. */
object JvmStats {
  import scala.jdk.CollectionConverters._
  import java.lang.management.{ManagementFactory, MemoryType}

  def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  def peakHeapMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

  def maxHeapMb: Double = Runtime.getRuntime.maxMemory / (1024.0 * 1024.0)

  /** Seconds since this JVM started. */
  def uptime: Double =
    (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  /** A flat JSON object from already-rendered values. */
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
