package perfbench

import java.io.File

object Util {

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmrf))
    f.delete(): Unit
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()

  def secs(ns: Long): Double = ns / 1e9

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The tail of a run's operation times, as (value, rule). From 100
    * samples on it is the highest percentile with at least ten samples
    * beyond it. A run here has far fewer, and below 21 samples that
    * percentile is not above the median; the tail is then the median over
    * the run's three consecutive thirds of each third's slowest operation,
    * so one stalled operation cannot set it alone.
    */
  def tail(xs: Seq[Double]): (Double, String) = {
    val n = xs.size
    if (n >= 100) (xs.sorted.apply(n - 11), s"p${100.0 * (n - 10) / n} of $n, 10 beyond")
    else {
      val maxima = xs.zipWithIndex.groupBy { case (_, i) => i * 3 / n }.values
        .map(_.map(_._1).max).toSeq
      (median(maxima), s"median of the slowest op in each third of $n")
    }
  }

  /** Minimal JSON rendering for the flat values this benchmark emits. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case o: Option[_] => o.map(json).getOrElse("null")
    case other => json(other.toString)
  }
}
