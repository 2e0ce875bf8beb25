package perfbench

import scala.collection.mutable

/** Everything one run reports: metrics by name with their unit, the
  * operations attempted and failed (each failure named), the planted-fact
  * checks, the result dumps the DuckDB oracle compares, and the report
  * lines printed ahead of the final result line. An operation named in
  * `knownDefects` fails on purpose; any other failure, and any failed
  * check, makes the run incorrect. */
final class Outcome(knownDefects: Set[String] = Set.empty) {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[(String, String)]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  /** (query, input dir, result dir, oracle SQL) */
  val oracle = mutable.ArrayBuffer.empty[(String, String, String, String)]
  val report = mutable.ArrayBuffer.empty[String]

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  def fail(op: String, e: Throwable): Unit = {
    val msg = Option(e.getMessage).getOrElse("").linesIterator.nextOption().getOrElse("")
    failures += ((op, s"${e.getClass.getName}: ${msg.take(300)}"))
  }

  def check(name: String, ok: Boolean, detail: String): Unit =
    checks += ((name, ok, detail))

  def known(op: String): Boolean = knownDefects.contains(op)

  def correct: Boolean = checks.forall(_._2) && failures.forall(f => known(f._1))

  def json: String = {
    import Json._
    obj(
      "metrics" -> obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> obj("value" -> num(v), "unit" -> str(u)) }: _*),
      "correct" -> correct.toString,
      "attempted" -> num(attempted.toDouble),
      "failures" -> arr(failures.toSeq.map { case (o, e) =>
        obj("op" -> str(o), "error" -> str(e), "known" -> known(o).toString) }),
      "checks" -> arr(checks.toSeq.map { case (n, ok, d) =>
        obj("name" -> str(n), "ok" -> (if (ok) "true" else "false"), "detail" -> str(d)) }),
      "oracle" -> arr(oracle.toSeq.map { case (q, in, res, sql) =>
        obj("query" -> str(q), "input" -> str(in), "result" -> str(res), "sql" -> str(sql)) }),
      "report" -> arr(report.toSeq.map(str)))
  }
}

/** The few JSON forms the benchmark writes. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
