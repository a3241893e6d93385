package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

/** Minimal JSON writer for the result and span files (no third-party API). */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => str(other.toString)
  }

  def write(path: String, v: Any): Unit =
    Files.write(Paths.get(path), apply(v).getBytes(StandardCharsets.UTF_8))
}

/** Order statistics over raw samples; quantiles use the nearest-rank rule so a
  * reported p99 is always a sample that was actually measured. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def sum(xs: Iterable[Double]): Double = xs.foldLeft(0.0)(_ + _)
  /** Least-squares slope of y over x. */
  def slope(pts: Seq[(Double, Double)]): Double = {
    val n = pts.size.toDouble
    val mx = sum(pts.map(_._1)) / n
    val my = sum(pts.map(_._2)) / n
    sum(pts.map { case (x, y) => (x - mx) * (y - my) }) / sum(pts.map { case (x, _) => (x - mx) * (x - mx) })
  }
}

/** A timed value with its unit and sample count, as printed in the report. */
final case class Metric(value: Double, unit: String, samples: Long) {
  def json: Map[String, Any] = Map("value" -> value, "unit" -> unit, "samples" -> samples)
}

/** Thread-safe sample sink (latencies, durations) in milliseconds. */
final class Samples {
  private val q = new ConcurrentLinkedQueue[java.lang.Double]()
  def add(ms: Double): Unit = q.add(ms)
  def values: Seq[Double] = q.asScala.map(_.doubleValue).toVector
  def size: Int = q.size
  def clear(): Unit = q.clear()
}

/** One span: name, start and end in epoch-ms, the span that caused it, and
  * the trace it belongs to. Kept in memory and written at exit. */
final case class Span(id: Long, trace: String, name: String, startMs: Double,
    endMs: Double, parent: Long, attrs: Map[String, Any] = Map.empty)

object Tracer {
  @volatile var enabled = false
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = if (enabled) spans.add(s)
  def all: Seq[Span] = spans.asScala.toVector

  /** Self time of every span: its duration minus the union of the intervals
    * its children cover (clipped to the span). */
  def selfTimes(ss: Seq[Span]): Map[Long, Double] = {
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var curS = Double.NaN
      var curE = Double.NaN
      iv.foreach { case (a, b) =>
        if (curE.isNaN || a > curE) {
          if (!curE.isNaN) covered += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
      if (!curE.isNaN) covered += curE - curS
      s.id -> math.max(0.0, (s.endMs - s.startMs) - covered)
    }.toMap
  }

  def write(path: String): Unit = {
    val ss = all
    val self = selfTimes(ss)
    val lines = ss.sortBy(_.startMs).map { s =>
      Json(Map("id" -> s.id, "trace" -> s.trace, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "parent" -> (if (s.parent == 0L) None else Some(s.parent)),
        "self_ms" -> self(s.id), "attrs" -> s.attrs))
    }
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** One reader thread that calls `read(i)` for i = 0, 1, ... on an open-loop
  * schedule of `perS` calls a second, from construction until `stop()`.
  * `latency` counts from each call's due time, so a stalled reader shows;
  * `busy` from the call's start. `read` returns an error message or None. */
final class OpenLoopReader(perS: Int, span: String, read: Long => Option[String]) {
  val latency, late, busy = new Samples
  val errors = new ConcurrentLinkedQueue[String]()
  @volatile private var running = true
  private val t0Ns = System.nanoTime()
  private val thread = new Thread(() => {
    var i = 0L
    while (running) {
      val due = t0Ns + i * 1000000000L / perS
      var d = due - System.nanoTime()
      while (d > 0) { java.util.concurrent.locks.LockSupport.parkNanos(d); d = due - System.nanoTime() }
      if (running) {
        val start = System.nanoTime()
        val s0 = System.currentTimeMillis()
        val err = read(i)
        val done = System.nanoTime()
        late.add((start - due) / 1e6)
        latency.add((done - due) / 1e6)
        busy.add((done - start) / 1e6)
        err.foreach(errors.add)
        Tracer.add(Span(Tracer.nextId(), "reader", span, s0.toDouble, System.currentTimeMillis().toDouble, 0L))
      }
      i += 1
    }
  }, s"perfbench-$span")
  thread.start()

  /** Stops the schedule and waits for the thread to end. */
  def stop(): Unit = { running = false; thread.join() }
  /** Share of `wallMs` the reader spent inside `read`. */
  def busyShare(wallMs: Double): Double = Stats.sum(busy.values) / wallMs
}

/** Seeded source of randomness for generated inputs. */
final class Rng(seed: Long) {
  private val r = new java.util.SplittableRandom(seed)
  def double(): Double = r.nextDouble()
  def int(n: Int): Int = r.nextInt(n)
  def long(lo: Long, hi: Long): Long = r.nextLong(lo, hi)
}
