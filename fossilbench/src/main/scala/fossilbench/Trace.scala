package fossilbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed call into a library entry point. `request` is shared by every
  * span of one benchmark operation (the root span's own id). */
final case class Span(id: Long, parent: Long, request: Long, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span and sample recorder for the traced run. Disabled, every
  * call is a pass-through, so untraced runs time the library alone. Spans
  * nest per thread; [[fork]] carries a parent across threads. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val samples = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val outer = stack.get
      val (parent, req) = outer.headOption.getOrElse((0L, 0L))
      val id = ids.incrementAndGet()
      stack.set((id, if (req == 0L) id else req) :: outer)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        spans.add(Span(id, parent, if (req == 0L) id else req, name, t0, t1))
      }
    }

  /** The current (span, request) pair, to parent spans on another thread. */
  def current: (Long, Long) = if (enabled) stack.get.headOption.getOrElse((0L, 0L)) else (0L, 0L)

  /** Run `f` with `ctx` (from [[current]] on another thread) as its parent. */
  def fork[T](ctx: (Long, Long))(f: => T): T =
    if (!enabled) f
    else {
      val outer = stack.get
      stack.set(if (ctx._1 == 0L) outer else ctx :: outer)
      try f finally stack.set(outer)
    }

  /** A value observed at a layer boundary (bytes, counts, ratios). */
  def sample(name: String, v: Double): Unit =
    if (enabled) samples.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Double]()).add(v)

  def reset(): Unit = { spans.clear(); samples.clear() }

  def all: Seq[Span] = spans.asScala.toSeq

  def durationsMs(name: String): Seq[Double] =
    all.filter(_.name == name).map(_.durNs / 1e6)

  def samplesOf(name: String): Seq[Double] =
    Option(samples.get(name)).map(_.asScala.toSeq).getOrElse(Nil)

  /** Self time per span: its duration minus the union of its children's
    * intervals, clipped to its own interval. */
  def selfNs: Map[Long, Long] = {
    val byParent = all.groupBy(_.parent)
    all.map { s =>
      val kids = byParent.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else if (b > curB) curB = b
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Write spans (one JSON object a line), per-name totals with self time,
    * and the raw samples under `dir`. */
  def write(dir: Path): Unit = {
    Files.createDirectories(dir)
    val self = selfNs
    val spanLines = all.sortBy(_.startNs).map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "request" -> s.request,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_ns" -> self(s.id))
    }
    Files.write(dir.resolve("spans.jsonl"),
      spanLines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val byName = all.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      n -> Json.obj("n" -> ss.size,
        "total_ms" -> ss.map(_.durNs).sum / 1e6,
        "self_ms" -> ss.map(s => self(s.id)).sum / 1e6,
        "p50_ms" -> Stats.median(ss.map(_.durNs / 1e6)))
    }
    Files.write(dir.resolve("span_summary.json"),
      Json.obj(byName: _*).s.getBytes(StandardCharsets.UTF_8))
    val counts = samples.asScala.toSeq.sortBy(_._1).map { case (n, q) =>
      n -> Json.arr(q.asScala.toSeq.map(v => v: Any): _*)
    }
    Files.write(dir.resolve("counts.json"),
      Json.obj(counts: _*).s.getBytes(StandardCharsets.UTF_8))
  }
}
