package perfbench

import scala.collection.mutable

/** In-memory span recorder. A span is one timed call into a layer (or one
  * runner stage, or one Spark job); spans of one benchmark run share its
  * run id. Nothing is written until the run ends.
  */
final class Trace(val runId: String) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]

  def current: Int = if (open.isEmpty) -1 else open.top

  def begin(name: String, layer: String): Int = {
    val id = spans.length
    spans += Span(id, current, name, layer, nowMs(), -1.0)
    open.push(id)
    id
  }

  def end(id: Int): Unit = {
    require(open.nonEmpty && open.top == id, s"span $id is not the innermost")
    open.pop()
    spans(id) = spans(id).copy(end = nowMs())
  }

  /** A span whose times are known after the fact (stages, Spark jobs). */
  def add(parent: Int, name: String, layer: String, start: Double,
      end: Double): Int = {
    val id = spans.length
    spans += Span(id, parent, name, layer, start, end)
    id
  }

  def get(id: Int): Span = spans(id)
  def all: Seq[Span] = spans.toSeq

  /** Self time per layer: each span's duration minus the part of its
    * interval that its child spans cover.
    */
  def selfMsByLayer(roots: Set[Int]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def walk(s: Span): Unit = {
      val kids = children.getOrElse(s.id, mutable.ArrayBuffer.empty[Span]).toSeq.filter(_.end >= 0)
      val covered = Ledger.unionMs(kids.map(k =>
        (math.max(k.start, s.start) * 1000).toLong ->
          (math.min(k.end, s.end) * 1000).toLong).filter(iv => iv._2 > iv._1).toSeq)
      out(s.layer) += math.max(0.0, s.end - s.start - covered / 1000.0)
      kids.foreach(walk)
    }
    roots.foreach(r => walk(spans(r)))
    out.toMap
  }

  def toJsonLines: String = spans.map { s =>
    Main.mapper.writeValueAsString(scala.collection.immutable.ListMap("run" -> runId,
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
      "start_ms" -> s.start, "end_ms" -> s.end))
  }.mkString("", "\n", "\n")
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String, layer: String,
      start: Double, end: Double)

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution, on the same scale
    * as the epoch-millisecond times Spark stamps on its listener events.
    */
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}
