package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

/** Turns the recorded spans into per-layer self times. Plan-phase spans
  * arrive from the listener without a step; they are attached to the
  * innermost client call that covers their start.
  */
object Trace {
  val Layers: Seq[String] = Seq("step", "operators", "sources", "plans", "spark", "streaming")

  def summarize(probe: Probe, res: Result, work: String): Unit = {
    val spans = probe.allSpans()
    val calls = spans.filter(s => s.layer == "operators" || s.layer == "sources")
    val placed = spans.flatMap { s =>
      if (s.step >= 0) Some(s)
      else calls.filter(c => c.start <= s.start && s.start <= c.end).sortBy(-_.start)
        .headOption.map(c => s.copy(parent = c.id, step = c.step))
    }
    val self = mutable.Map[String, Double]().withDefaultValue(0.0)
    var residual = 0L
    placed.groupBy(_.step).foreach { case (step, tree) =>
      tree.find(_.id == step).foreach { root =>
        val st = Probe.selfTimes(tree, root)
        residual = math.max(residual, math.abs(st.values.sum - (root.end - root.start)))
        tree.foreach(s => self(s.layer) += st.getOrElse(s.id, 0L) / 1e6)
      }
    }
    val passes = math.max(1, res.context.get("passes").fold(1)(_.toInt))
    Layers.foreach(l => res.layer(s"trace.self_ms.$l") = self(l) / passes)
    res.context("trace_spans") = placed.length.toString
    res.context("trace_self_residual_ns") = residual.toString
    val lines = placed.sortBy(_.start).map(s => Json.obj(Seq(
      "id" -> s.id.toString, "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
      "parent" -> s.parent.toString, "step" -> s.step.toString,
      "start_ns" -> s.start.toString, "end_ns" -> s.end.toString)))
    Files.writeString(Paths.get(work, "trace.jsonl"), lines.mkString("", "\n", "\n"))
  }
}
