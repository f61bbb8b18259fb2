package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

/** One traced interval: a call into a layer (recorded by [[Tracer.span]])
  * or a Spark job attached under the span that launched it. Durations
  * come from the epoch-nanosecond times; `startMs`/`endMs` are wall-clock
  * milliseconds, the clock the Spark scheduler stamps job events with.
  */
final case class Span(id: Int, name: String, parent: Int, op: Long, startNs: Long, endNs: Long,
    startMs: Long, endMs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Disabled, [[span]] only runs its body, so the
  * untraced run pays one branch per call. Spans nest per thread; each
  * top-level span opens a new operation id that its children share.
  */
final class Tracer(val enabled: Boolean) {
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.HashMap.empty[Int, Span]
  private var nextId = 0
  private var nextOp = 0L
  private val stack = new ThreadLocal[List[(Int, Long)]] {
    override def initialValue(): List[(Int, Long)] = Nil
  }

  def nowNs(): Long = baseEpochNs + (System.nanoTime() - baseNano)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val (id, op, parent) = synchronized {
        val parentFrame = stack.get.headOption
        val id = nextId
        nextId += 1
        val op = parentFrame.map(_._2).getOrElse { nextOp += 1; nextOp }
        (id, op, parentFrame.map(_._1).getOrElse(-1))
      }
      stack.set((id, op) :: stack.get)
      val ms0 = System.currentTimeMillis()
      val t0 = nowNs()
      try body
      finally {
        val t1 = nowNs()
        val ms1 = System.currentTimeMillis()
        stack.set(stack.get.tail)
        synchronized { record(Span(id, name, parent, op, t0, t1, ms0, ms1)) }
      }
    }

  /** Attach an interval stamped in wall-clock milliseconds (a Spark job)
    * under the span that contains its start, on the same clock. A job
    * cannot outlive the call that waits for it, so when a span that just
    * ended and the next one share the start millisecond, the later span
    * is the job's host; among nested spans the deepest wins.
    */
  def attach(name: String, startMs: Long, endMs: Long): Span = synchronized {
    val host = spans.iterator
      .filter(s => s.startMs <= startMs && startMs <= s.endMs)
      .maxByOption(s => (s.startMs, depth(s)))
    val s = Span(nextId, name, host.map(_.id).getOrElse(-1), host.map(_.op).getOrElse(0L),
      startMs * 1000000L, endMs * 1000000L, startMs, endMs)
    nextId += 1
    record(s)
    s
  }

  private def record(s: Span): Unit = { spans += s; byId(s.id) = s }

  private def depth(s: Span): Int = {
    var d = 0
    var p = s.parent
    while (p >= 0) { d += 1; p = byId(p).parent }
    d
  }

  def all: Seq[Span] = synchronized(spans.toList)

  def write(path: Path): Unit = {
    val sb = new StringBuilder
    all.sortBy(_.id).foreach { s =>
      sb.append(Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs))).append('\n')
    }
    Files.createDirectories(path.getParent)
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {

  /** Self time of every span: its duration minus the part of its
    * interval that its direct children cover (children merged first, so
    * overlapping children are not subtracted twice).
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** All spans below `root` (transitively), given the spans grouped by
    * parent id.
    */
  def descendants(children: Map[Int, Seq[Span]], root: Span): Seq[Span] = {
    val out = mutable.ArrayBuffer.empty[Span]
    var frontier = children.getOrElse(root.id, Nil)
    while (frontier.nonEmpty) {
      out ++= frontier
      frontier = frontier.flatMap(c => children.getOrElse(c.id, Nil))
    }
    out.toSeq
  }
}

/** Order statistics over latency samples. */
object Stats {
  /** Nearest-rank percentile (p in 0..100) of unsorted samples. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    s(math.min(s.length - 1, math.max(0, rank - 1)))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

/** Minimal JSON writer for flat objects of strings, numbers and nested
  * objects (the harness's only output shapes).
  */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def value(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number in output: $d")
      d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case other => throw new IllegalArgumentException(s"not JSON-encodable: $other")
  }

  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
