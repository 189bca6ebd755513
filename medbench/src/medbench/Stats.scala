package medbench

import scala.collection.mutable

/** Latency samples per operation name, in milliseconds. */
final class Samples {
  private val byName = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def add(name: String, ms: Double): Unit = synchronized {
    byName.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms
  }

  /** Run `body`, record its wall time under `name`, return its value. */
  def time[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    add(name, (System.nanoTime() - t0) / 1e6)
    r
  }

  def apply(name: String): Seq[Double] = synchronized {
    byName.get(name).map(_.toSeq).getOrElse(Nil)
  }

  def of(names: Iterable[String]): Seq[Double] = names.toSeq.flatMap(apply)
}

object Stats {

  /** Linear-interpolated quantile (q in [0, 1]); NaN on no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The six latency metrics every workload reports, from its samples. */
  def latencies(write: Seq[Double], read: Seq[Double], batch: Seq[Double]): Map[String, Double] =
    Seq("write" -> write, "read" -> read, "batch" -> batch).flatMap { case (k, xs) =>
      Seq(s"${k}_ms_p50" -> quantile(xs, 0.5), s"${k}_ms_p90" -> quantile(xs, 0.9))
    }.toMap

  /** Plain JSON for the scalars, strings, maps and sequences the benchmark prints. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }
}
