package graftbench

import scala.collection.mutable.ArrayBuffer

/** In-memory spans for the traced run: name, start, end, parent and run id,
  * kept in memory and written as JSON lines when the run ends. Spans are
  * recorded only around calls the benchmark itself makes into a layer. */
final class Trace(val runId: String, enabled: Boolean) {
  final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int)

  private val spans = ArrayBuffer.empty[Span]
  private val counters = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private var nextId = 0

  /** Time `body` as a span when tracing; run it untimed otherwise. */
  def span[T](name: String, parent: Int = -1)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      try body
      finally record(name, t0, System.nanoTime(), parent)
    }

  def record(name: String, startNs: Long, endNs: Long, parent: Int = -1): Int = synchronized {
    nextId += 1
    spans += Span(nextId, name, startNs, endNs, parent)
    nextId
  }

  def count(name: String, v: Double): Unit = synchronized {
    counters(name) = counters.getOrElse(name, 0.0) + v
  }

  def durationsMs(name: String): Seq[Double] = synchronized {
    spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6).toSeq
  }

  def counter(name: String): Double = synchronized(counters.getOrElse(name, 0.0))

  def write(path: java.nio.file.Path): Unit = synchronized {
    Option(path.getParent).foreach(p => java.nio.file.Files.createDirectories(p))
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      w.write(s"""{"run":"$runId","id":${s.id},"name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"parent":${s.parent}}""")
      w.newLine()
    } finally w.close()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The tail: the highest percentile with at least ten samples beyond it,
    * but never below the 90th (nearest rank), so that it does not jump to
    * the median when a short run has few samples. */
  def tail(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.max(math.ceil(0.9 * s.size).toInt - 1, s.size - 11))
    }
}
