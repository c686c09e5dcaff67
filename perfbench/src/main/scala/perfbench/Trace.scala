package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer: `parent` is the id of the enclosing span
  * (-1 at the root) and `op` the id of the benchmark op it belongs to (-1
  * outside ops). */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int, op: Int) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for the single client thread. While disabled,
  * `span` runs its body and records nothing. */
final class Tracer {
  var enabled = false
  /** Op id stamped on spans opened from now on. */
  var op: Int = -1
  private val recorded = ArrayBuffer[Span]()
  private var open: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      val op0 = op
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open = open.tail
        recorded += Span(id, name, t0, t1, parent, op0)
      }
    }

  def spans: Seq[Span] = recorded.toSeq
}

object Trace {

  /** Self time of every span: its duration minus the part of its interval
    * that its direct children cover (overlapping children count once). */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Per span name: (calls, total ns, self ns). */
  final case class Layer(calls: Int, totalNs: Long, selfNs: Long) {
    def selfMsPerCall: Double = if (calls == 0) 0.0 else selfNs / 1e6 / calls
  }

  def byName(spans: Seq[Span]): Map[String, Layer] = {
    val self = selfNs(spans)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> Layer(ss.length, ss.map(_.durNs).sum, ss.map(s => self(s.id)).sum)
    }
  }

  /** One JSON object per span, one per line. */
  def write(spans: Seq[Span], file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.sortBy(_.id).foreach { s =>
      w.println(Json.obj("id" -> s.id, "name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "parent" -> s.parent, "op" -> s.op))
    } finally w.close()
  }
}
