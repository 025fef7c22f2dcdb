package perfbench

import scala.collection.mutable

/** One timed interval at a layer boundary. Times are `System.nanoTime`;
  * `parent` is the id of the span that caused it (-1 for an operation's
  * root), and every span of one operation shares its `op` id. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    start: Long, end: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def dur: Long = end - start
}

/** In-memory span recorder for the traced run. Spans are opened around the
  * benchmark's own calls into each layer (`span`), or added afterwards from
  * timestamps Spark reports (`addAfter`: planning phases, job intervals);
  * those get the innermost recorded span of the same operation that
  * covers them as parent. Nothing is written until [[write]]. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private val open = mutable.Map.empty[Int, (String, Long, Int)]
  private var nextId = 0
  private var op = -1

  /** Wall-clock ms → nanoTime, for timestamps Spark reports in epoch ms. */
  private val epochToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def fromEpochMs(ms: Long): Long = ms * 1000000L + epochToNano

  def beginOp(id: Int): Unit = op = id

  /** Spans are kept only while the harness is timing. */
  var recording = false

  def span[T](name: String)(body: => T): T =
    if (!enabled || !recording) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        stack.pop()
        spans += Span(id, parent, op, name, t0, System.nanoTime())
      }
    }

  def addAfter(name: String, start: Long, end: Long): Unit =
    if (enabled && recording && end >= start) {
      // Spark's timestamps have ms resolution: clamp into the operation
      val root = spans.find(s => s.op == op && s.parent == -1)
      val (a, b) = root.fold((start, end))(r =>
        (math.min(math.max(start, r.start), r.end), math.max(math.min(end, r.end), r.start)))
      val cover = spans.iterator
        .filter(s => s.op == op && s.start <= a && s.end >= b)
        .minByOption(_.dur)
      spans += Span(nextId, cover.map(_.id).getOrElse(-1), op, name, a, b)
      nextId += 1
    }

  def all: Seq[Span] = spans.toSeq

  /** Self time of each span: its duration minus the part of it that its
    * children cover (children may overlap one another). */
  def selfTimes: Seq[(Span, Long)] = {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curA = Long.MinValue; var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s -> (s.dur - covered)
    }
  }

  /** One JSON object per span, self time included. */
  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    selfTimes.sortBy(_._1.id).foreach { case (s, self) =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"self_ns":$self}""" + "\n"
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}
