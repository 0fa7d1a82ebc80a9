package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

/** In-memory spans and counters, recorded only around the benchmark's own
  * calls into each layer. Off by default: an untraced run pays one
  * volatile read per boundary.
  */
object Trace {

  /** One span: `parent` is the id of the span open on the calling thread
    * when this one started (0 = root).
    */
  final case class Span(id: Long, parent: Long, name: String, startNs: Long,
      endNs: Long, attrs: Map[String, Long] = Map.empty) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  private val enabled = new AtomicBoolean(false)
  private val ids = new AtomicLong
  private val open = new ThreadLocal[Long] { override def initialValue(): Long = 0L }
  val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new ConcurrentHashMap[String, LongAdder]()

  def on: Boolean = enabled.get()
  def start(): Unit = { reset(); enabled.set(true) }
  def stop(): Unit = enabled.set(false)
  def reset(): Unit = { spans.clear(); counters.clear() }

  def span[T](name: String)(body: => T): T =
    if (!enabled.get()) body
    else {
      val id = ids.incrementAndGet()
      val parent = open.get()
      open.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, t0, System.nanoTime()))
        open.set(parent)
      }
    }

  /** Record an already-timed span (Spark jobs reported by a listener). */
  def record(name: String, parent: Long, startNs: Long, endNs: Long,
      attrs: Map[String, Long]): Unit =
    if (enabled.get())
      spans.add(Span(ids.incrementAndGet(), parent, name, startNs, endNs, attrs))

  def count(name: String, n: Long = 1L): Unit =
    if (enabled.get()) counters.computeIfAbsent(name, _ => new LongAdder).add(n)

  def counter(name: String): Long =
    Option(counters.get(name)).map(_.sum()).getOrElse(0L)

  def named(name: String): Seq[Span] = spans.asScala.filter(_.name == name).toSeq

  /** Write every span as one JSON line (called once, when the run ends). */
  def writeOut(path: java.nio.file.Path): Unit = {
    val sb = new java.lang.StringBuilder
    spans.asScala.toSeq.sortBy(_.startNs).foreach { s =>
      val attrs = s.attrs.map { case (k, v) => s""","$k":$v""" }.mkString
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}$attrs}""").append('\n')
    }
    counters.asScala.toSeq.sortBy(_._1).foreach { case (k, v) =>
      sb.append(s"""{"counter":"$k","value":${v.sum()}}""").append('\n')
    }
    java.nio.file.Files.write(path,
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
