package perfbench

import scala.collection.mutable

/** One reported number: value, unit and the sample count behind it. */
final case class Metric(name: String, value: Double, unit: String, samples: Long, note: String = "")

/** Collects metrics and output-check results and prints them. Only the
  * metrics named in BENCHMARK.json go into the final JSON line; every
  * other metric is printed on its own line above it.
  */
final class Report {
  val metrics = mutable.LinkedHashMap[String, Metric]()
  var attempted = 0L
  var failed = 0L

  def put(name: String, value: Double, unit: String, samples: Long, note: String = ""): Unit =
    metrics(name) = Metric(name, value, unit, samples, note)

  /** Records one checked operation; a wrong output is printed with its id. */
  def check(ok: Boolean, what: => String): Unit = synchronized {
    attempted += 1
    if (!ok) { failed += 1; println(s"perfbench MISMATCH $what") }
  }

  /** Records `n` operations that ran without raising. */
  def ran(n: Long): Unit = synchronized { attempted += n }

  def error(what: String, e: Throwable): Unit = synchronized {
    attempted += 1; failed += 1
    println(s"perfbench ERROR $what: $e")
  }

  def printAll(): Unit = metrics.values.foreach { m =>
    val note = if (m.note.isEmpty) "" else s" (${m.note})"
    println(s"perfbench metric ${m.name} = ${Report.num(m.value)} ${m.unit} n=${m.samples}$note")
  }

  /** The final line: `names` in order, each with value and unit. */
  def json(names: Seq[String]): String = {
    val ms = names.map { n =>
      val m = metrics.getOrElse(n, sys.error(s"metric $n was not measured"))
      s""""$n":{"value":${Report.num(m.value)},"unit":"${m.unit}"}"""
    }
    s"""{"correct":${failed == 0},"attempted":${math.max(attempted, 1L)},"failed":$failed,""" +
      s""""metrics":{${ms.mkString(",")}}}"""
  }
}

object Report {
  /** Full-precision JSON number (non-finite values are an error). */
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else java.lang.Double.toString(v)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Nearest-rank quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
  }

  /** The highest of a fixed ladder of percentiles that still has at least
    * ten samples above it: (percentile, value). None below 11 samples.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val s = xs.sorted
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).iterator.map { p =>
      val idx = math.max(0, math.ceil(p / 100 * s.length).toInt - 1)
      (p, idx)
    }.find { case (_, idx) => s.length - 1 - idx >= 10 }.map { case (p, idx) => (p, s(idx)) }
  }
}

/** Prints how long a set-up or check step took. */
object Progress {
  def apply[T](what: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"perfbench step $what: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }
}
