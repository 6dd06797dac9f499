package perfbench

import scala.collection.mutable

/** Order statistics shared by every workload. Timings are reported as a
  * median plus the highest percentile that still has at least ten samples
  * above it, always with the sample count beside them.
  */
object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** (value, percentile label, n): the sample with exactly ten samples above
    * it. Below 21 samples that percentile would not lie above the median, so
    * the maximum is returned instead, with label 100.
    */
  def tail(xs: Seq[Double]): (Double, Int, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (Double.NaN, 0, 0)
    else if (n < 21) (s.last, 100, n)
    else (s(n - 11), math.floor(100.0 * (n - 10) / n).toInt, n)
  }

  def tailLabel(pct: Int): String = if (pct >= 100) "max" else s"p$pct"

  /** Length of the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Everything one run reports. Written as one JSON file that `run.py`
  * reads, checks further (the DuckDB oracle) and prints.
  */
final class Result {
  final case class Metric(value: Double, unit: String, n: Int, label: String)

  val endToEnd = mutable.LinkedHashMap.empty[String, Metric]
  val perLayer = mutable.LinkedHashMap.empty[String, Metric]
  val report = mutable.Buffer.empty[String]
  val failures = mutable.Buffer.empty[String]
  /** query name -> (spark output dir, oracle SQL) for the python-side check */
  val oracleChecks = mutable.LinkedHashMap.empty[String, (String, String)]
  var attempted = 0L
  var failed = 0L

  def e2e(name: String, value: Double, unit: String, n: Int, label: String = ""): Unit =
    endToEnd(name) = Metric(value, unit, n, label)
  def layer(name: String, value: Double, unit: String, n: Int = 0): Unit =
    perLayer(name) = Metric(value, unit, n, "")
  def fail(what: String): Unit = { failed += 1; failures += what }
  def line(s: String): Unit = report += s

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private val marks = mutable.Buffer.empty[String]
  /** Record when a phase of the run ended, in seconds since the JVM started. */
  def mark(phase: String): Unit =
    marks += f"$phase ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1f"
  def timeline(): Unit = line(s"timeline (s since JVM start): ${marks.mkString(", ")}")

  def write(path: String): Unit = {
    def metrics(m: mutable.LinkedHashMap[String, Metric]): String = m.map {
      case (k, v) => s"${Json.str(k)}: {\"value\": ${Json.num(v.value)}, " +
        s"\"unit\": ${Json.str(v.unit)}, \"n\": ${v.n}, \"label\": ${Json.str(v.label)}}"
    }.mkString("{", ", ", "}")
    val checks = oracleChecks.map { case (q, (dir, sql)) =>
      s"${Json.str(q)}: {\"dir\": ${Json.str(dir)}, \"sql\": ${Json.str(sql)}}"
    }.mkString("{", ", ", "}")
    val body =
      s"""{"attempted": $attempted, "failed": $failed,
         |"failures": ${failures.map(Json.str).mkString("[", ", ", "]")},
         |"end_to_end": ${metrics(endToEnd)},
         |"per_layer": ${metrics(perLayer)},
         |"oracle_checks": $checks,
         |"report": ${report.map(Json.str).mkString("[", ", ", "]")}}
         |""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(path), body.getBytes("UTF-8"))
  }
}

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
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
}
