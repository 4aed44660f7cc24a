package perfbench

import scala.collection.mutable

/** Minimal JSON writer for the harness's result and trace files (the
  * harness keeps its own dependency surface at zero). Values: Map, Seq,
  * String, Boolean, Int/Long/Double. */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb += '"'
      s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case '\n' => sb ++= "\\n"
        case '\r' => sb ++= "\\r"
        case '\t' => sb ++= "\\t"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      sb += '"'
    }
    def go(x: Any): Unit = x match {
      case s: String => str(s)
      case b: Boolean => sb ++= b.toString
      case d: Double =>
        sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
      case n: Int => sb ++= n.toString
      case n: Long => sb ++= n.toString
      case m: collection.Map[_, _] =>
        sb += '{'
        var first = true
        m.foreach { case (k, vv) =>
          if (!first) sb += ','
          first = false
          str(k.toString); sb += ':'; go(vv)
        }
        sb += '}'
      case s: Iterable[_] =>
        sb += '['
        var first = true
        s.foreach { e => if (!first) sb += ','; first = false; go(e) }
        sb += ']'
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }

  def writeFile(path: String, v: Any): Unit = {
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(p, write(v).getBytes("UTF-8"))
  }
}

/** Order statistics over measured samples. */
object Stats {
  /** Linear-interpolated quantile, q in [0, 1]; NaN for no samples. */
  def quantile(xs: collection.Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)
}

/** Seeded random source. `java.util.Random` is specified bit-for-bit by
  * its documentation, so the same seed yields the same inputs on any JVM. */
final class Rng(seed: Long) {
  private val r = new java.util.Random(seed)
  def int(n: Int): Int = r.nextInt(n)
  def double(): Double = r.nextDouble()
  def gaussian(): Double = r.nextGaussian()
  def chance(p: Double): Boolean = r.nextDouble() < p
}

/** Zipf(s) sampler over ranks 0 until n by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x / tot; acc }
  }
  def sample(r: Rng): Int = {
    val u = r.double()
    val i = java.util.Arrays.binarySearch(cdf, u)
    val j = if (i >= 0) i else -i - 1
    math.min(j, n - 1)
  }
}

/** Measured result of one run: the end-to-end or per-layer metrics, the
  * operation counts behind `failed_ratio`, and the self-describing record. */
final class Outcome {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val record = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  /** Checks the Python side runs after the JVM exits (DuckDB oracle). */
  val pending = mutable.ArrayBuffer.empty[Map[String, Any]]

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)
  def fail(msg: String, n: Long = 1L): Unit = {
    failed += n
    if (errors.size < 20) errors += msg
  }
}
