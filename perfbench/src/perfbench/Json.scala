package perfbench

final case class Metric(value: Double, unit: String)

/** What one workload run measured; `metrics` holds the end-to-end and
  * the per-layer metrics, `run.py` picks the set the run was asked for. */
final case class Result(correct: Boolean, attempted: Long, failed: Long,
    metrics: Seq[(String, Metric)], notes: Seq[String] = Nil)

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Full precision; a non-finite value is a harness bug. */
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
  }

  def result(r: Result): String = {
    val ms = r.metrics.map { case (k, m) =>
      s"""${str(k)}:{"value":${num(m.value)},"unit":${str(m.unit)}}"""
    }.mkString(",")
    s"""{"correct":${r.correct},"attempted":${r.attempted},""" +
      s""""failed":${r.failed},"metrics":{$ms},""" +
      s""""notes":${r.notes.map(str).mkString("[", ",", "]")}}"""
  }
}
