package graft.perfbench

import scala.collection.mutable

/** Raw samples of one run, written as one JSON object for `run.py`. */
final class Report {
  private val nums = mutable.LinkedHashMap.empty[String, Seq[Double]]
  private val ops = mutable.Buffer.empty[(String, Double)]
  private val passes = mutable.Buffer.empty[Double]
  private val outputs = mutable.Buffer.empty[String]
  private val drains = mutable.Buffer.empty[String]
  private val layers = mutable.LinkedHashMap.empty[String, Double]
  private val errors = mutable.Buffer.empty[String]
  private var attempted, failed = 0L

  def nums(k: String, vs: Seq[Double]): Unit = nums(k) = vs
  def attempt(): Unit = attempted += 1
  def fail(msg: String): Unit = { failed += 1; errors += msg }
  def error(msg: String): Unit = errors += msg
  def op(group: String, ms: Double): Unit = ops += group -> ms
  def pass(s: Double): Unit = passes += s
  def layer(k: String, v: Double): Unit = layers(k) = v
  def layerAdd(k: String, v: Double): Unit = layers(k) = layers.getOrElse(k, 0.0) + v
  def drain(pub: String, messages: Long): Unit =
    drains += s"""{"pub":${Report.str(pub)},"messages":$messages}"""
  def output(name: String, path: String, oracle: Option[String], twin: Option[String]): Unit =
    outputs += s"""{"name":${Report.str(name)},"path":${Report.str(path)},""" +
      s""""oracle":${oracle.map(Report.str).getOrElse("null")},""" +
      s""""twin":${twin.map(Report.str).getOrElse("null")}}"""

  def json: String = {
    import Report._
    def arr(xs: Iterable[String]) = xs.mkString("[", ",", "]")
    def obj(kv: Iterable[(String, String)]) =
      kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
    obj(Seq(
      "nums" -> obj(nums.map { case (k, vs) => k -> arr(vs.map(num)) }),
      "ops" -> arr(ops.map { case (g, ms) => s"[${str(g)},${num(ms)}]" }),
      "passes_s" -> arr(passes.map(num)),
      "outputs" -> arr(outputs),
      "drains" -> arr(drains),
      "layers" -> obj(layers.map { case (k, v) => k -> num(v) }),
      "errors" -> arr(errors.map(str)),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString))
  }
}

object Report {
  /** Locale-independent: `Double.toString` never uses a decimal comma. */
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
