package perfbench

import scala.collection.mutable.ArrayBuffer
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** In-memory span and count recorder for the traced run.
  *
  * A span is (id, trace, name, parent, start, end) in nanoseconds on one
  * monotonic clock; spans of one turn or one query share a `trace` id.
  * Spans recorded by the Spark listener (jobs, stages) are added with
  * [[add]] and carry the benchmark span that was open when the job was
  * submitted as their parent. Nothing is written until [[write]], which
  * the harness calls once at exit. When tracing is off every method is a
  * no-op apart from running the body.
  */
final class Trace(val enabled: Boolean) {
  import Trace.Span

  private val spans = ArrayBuffer.empty[Span]
  private val counts = scala.collection.mutable.LinkedHashMap.empty[String, Long]
  private var nextId = 1L
  private var stack: List[Long] = Nil
  private var curTrace = 0L

  def newTrace(): Long = synchronized { curTrace = nextId; nextId += 1; curTrace }

  /** The innermost open span, or 0. */
  def current: Long = synchronized(stack.headOption.getOrElse(0L))

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val (id, parent, trace) = synchronized {
        val id = nextId; nextId += 1
        val p = stack.headOption.getOrElse(0L)
        stack = id :: stack
        (id, p, curTrace)
      }
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        synchronized {
          stack = stack.tail
          spans += Span(id, trace, name, parent, t0, t1)
        }
      }
    }

  /** Adds a span measured elsewhere (listener events); returns its id. */
  def add(name: String, parent: Long, start: Long, end: Long): Long = synchronized {
    val id = nextId; nextId += 1
    spans += Span(id, curTrace, name, parent, start, end)
    id
  }

  def count(name: String, n: Long = 1L): Unit =
    if (enabled) synchronized(counts(name) = counts.getOrElse(name, 0L) + n)

  def countOf(name: String): Long = synchronized(counts.getOrElse(name, 0L))

  def all: Vector[Span] = synchronized(spans.toVector)

  /** Self time of every span: its duration minus the part of its
    * interval that its children cover (children may overlap, so the
    * covered part is the union of their clipped intervals). */
  def selfTimes(): Map[Long, Long] = {
    val v = all
    val kids = v.groupBy(_.parent)
    v.map { s =>
      val ivs = kids.getOrElse(s.id, Vector.empty)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      for ((a, b) <- ivs) {
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.dur - covered)
    }.toMap
  }

  /** Sum of self time (ns) and number of spans, per span name. */
  def selfByName(): Map[String, (Long, Int)] = {
    val self = selfTimes()
    all.groupBy(_.name).map { case (n, ss) => n -> ((ss.map(s => self(s.id)).sum, ss.size)) }
  }

  /** Writes spans (one JSON object a line) and counts to `path`. */
  def write(path: java.nio.file.Path): Unit = if (enabled) {
    val self = selfTimes()
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      for (s <- all)
        w.write(Json.mapper.writeValueAsString(Map("id" -> s.id, "trace" -> s.trace, "name" -> s.name,
          "parent" -> s.parent, "start_ns" -> s.start, "end_ns" -> s.end, "self_ns" -> self(s.id))) + "\n")
      for ((k, n) <- synchronized(counts.toVector))
        w.write(Json.mapper.writeValueAsString(Map("count" -> k, "n" -> n)) + "\n")
    } finally w.close()
  }
}

object Trace {
  final case class Span(id: Long, trace: Long, name: String, parent: Long, start: Long, end: Long) {
    def dur: Long = end - start
  }
}

/** JSON reading and writing for the harness's files. */
object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
}
