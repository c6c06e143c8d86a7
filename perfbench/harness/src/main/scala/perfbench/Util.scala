package perfbench

import java.nio.file.{Files, Paths}

import scala.util.Try

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}

/** Minimal JSON rendering for result lines; parsing uses Jackson, which
  * ships with Spark. */
object Json {
  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + esc(s) + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }

  def obj(kv: (String, Any)*): String = render(scala.collection.immutable.ListMap(kv: _*))

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def parse(s: String): com.fasterxml.jackson.databind.JsonNode = mapper.readTree(s)
}

/** Machine context of a run: CPU steal and load over the measured window,
  * and the JVM's peak resident set. */
object Machine {
  private def cpuTicks: Option[(Long, Long)] = Try {
    val f = Files.readString(Paths.get("/proc/stat")).linesIterator.next().trim
      .split("\\s+").drop(1).map(_.toLong)
    (f.sum, f(7))
  }.toOption

  def loadavg: Seq[Double] = Try(
    Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+").take(3).toSeq.map(_.toDouble)
  ).getOrElse(Seq.empty)

  /** Samples /proc/stat at `start` and `stop`; steal share in between. */
  final class Window {
    private var t0: Option[(Long, Long)] = None
    private var t1: Option[(Long, Long)] = None
    var loadStart: Seq[Double] = Nil
    var loadEnd: Seq[Double] = Nil
    def start(): Unit = { t0 = cpuTicks; loadStart = loadavg }
    def stop(): Unit = { t1 = cpuTicks; loadEnd = loadavg }
    def stealPct: Double = (for ((a, sa) <- t0; (b, sb) <- t1 if b > a)
      yield 100.0 * (sb - sa) / (b - a)).getOrElse(0.0)
  }

  /** VmHWM of this process in MB. */
  def rssPeakMb: Double = Try {
    Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble / 1024.0
  }.getOrElse(0.0)
}
