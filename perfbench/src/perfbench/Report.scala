package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import Main.{Metric, Opts}

/** JSON output: the one-line result, the run report, and the traced
  * run's spans with self times. */
object Report {
  val QueryTemplates = IndexedSeq("revenue_by_nation_month", "topn_customers", "window_rank",
    "range_lookup", "time_travel", "cdf", "iceberg_agg")

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Full precision; non-finite values (no samples) print as 0. */
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  private def metricMap(ms: Seq[Metric], withBase: Boolean): String =
    ms.map { m =>
      val base = if (withBase) s""", "base": ${str(m.base)}""" else ""
      s"""${str(m.name)}: {"value": ${num(m.value)}, "unit": ${str(m.unit)}$base}"""
    }.mkString("{", ", ", "}")

  def result(correct: Boolean, attempted: Int, failed: Int, ms: Seq[Metric]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": ${metricMap(ms, withBase = false)}}"""

  def json(o: Opts, e2e: Seq[Metric], layer: Seq[Metric], correct: Boolean,
           attempted: Int, failed: Int): String =
    s"""{"workload": ${str(o.workload)}, "seed": ${o.seed}, "seconds": ${o.seconds}, "trace": ${o.trace}, """ +
      s""""smoke": ${o.smoke}, "correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""end_to_end": ${metricMap(e2e, withBase = true)}, "per_layer": ${metricMap(layer, withBase = true)}}"""

  /** Spans of the timed phase, and per span name: count, total and
    * self seconds (self = duration minus what child spans cover). */
  def writeTrace(o: Opts, e2e: Seq[Metric], layer: Seq[Metric], spans: Seq[Span],
                 from: Long, to: Long): Unit = {
    val timed = spans.filter(s => s.start >= from && s.end <= to && s.end >= 0)
    val self = Trace.selfMs(timed)
    val byName = timed.groupBy(_.name).toSeq.sortBy(-_._2.map(s => self(s.id)).sum)
    val selfTable = byName.map { case (n, ss) =>
      s"""${str(n)}: {"count": ${ss.size}, "total_s": ${num(ss.map(_.dur).sum / 1000.0)}, """ +
        s""""self_s": ${num(ss.map(s => self(s.id)).sum / 1000.0)}, "jobs": ${ss.map(_.counters.jobs).sum}}"""
    }.mkString("{", ", ", "}")
    val spanList = timed.map { s =>
      val c = s.counters
      s"""{"id": ${s.id}, "trace": ${s.trace}, "parent": ${s.parent}, "name": ${str(s.name)}, """ +
        s""""start": ${s.start}, "end": ${s.end}, "self_ms": ${self(s.id)}, "jobs": ${c.jobs}, """ +
        s""""tasks": ${c.tasks}, "executor_run_ms": ${c.runNs / 1000000}, "planning_ms": ${c.planningMs}}"""
    }.mkString("[", ",\n  ", "]")
    val body = s"""{"workload": ${str(o.workload)}, "seed": ${o.seed}, "end_to_end": ${metricMap(e2e, withBase = true)},
  "per_layer": ${metricMap(layer, withBase = true)},
  "self_times": $selfTable,
  "spans": $spanList}
"""
    Files.write(o.out.resolve(s"${o.workload}-seed${o.seed}-spans.json"), body.getBytes(UTF_8))
    System.err.println(f"perfbench: ${"span"}%-24s ${"count"}%6s ${"total_s"}%10s ${"self_s"}%10s")
    byName.foreach { case (n, ss) =>
      System.err.println(f"perfbench: $n%-24s ${ss.size}%6d ${ss.map(_.dur).sum / 1000.0}%10.3f ${ss.map(s => self(s.id)).sum / 1000.0}%10.3f")
    }
  }
}
