package graftbench

/** One workload. A run sets it up, steps it in a closed loop, and checks
  * it. Every workload reports the same gated metrics — `op_p50_s` over its
  * timed operation (root spans named `opName`) and `sub_op_s` — plus its
  * own named metrics as context.
  */
trait Phase {
  def name: String
  def opName: String
  /** minimum steps per run */
  def quota: Int
  /** write this workload's seeded inputs under `rel` (relative to the work dir) */
  def generate(rel: String): Unit
  /** untimed set-up over the generated inputs: base tables, indexes, warm-up */
  def prepare(): Unit
  def step(): Unit
  def finish(): Unit = ()
  def check(): Unit
  def report(): Unit
  /** the operation's tail latency (context): see [[Phase.tail]] */
  def tail: Double
  /** the workload's own per-layer metrics (context, traced runs) */
  def layers(): Unit
}

object Phase {
  /** Tail latency: the highest nearest-rank percentile that leaves at least
    * ten samples above it. Below 20 samples no percentile above the median
    * does, and the maximum is reported instead.
    */
  def tail(s: Samples): Double =
    if (s.n == 0) Double.NaN else if (s.n < 20) s.xs.max else s.xs.sorted.apply(s.n - 11)
}

/** Minimal JSON writing for the result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
