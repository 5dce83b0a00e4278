package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Minimal JSON writer for the result lines (no dependency beyond the JDK). */
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

  def of(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => of(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}: ${of(x)}" }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(of).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}

/** Nearest-rank percentiles over one run's samples. */
object Stats {
  def percentile(xs: collection.Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }
  def median(xs: collection.Seq[Double]): Double = percentile(xs, 0.5)

  /** Samples strictly above the p-th percentile's rank. */
  def beyond(n: Int, p: Double): Int = n - math.ceil(p * n).toInt

  val TailLevels: Seq[Double] = Seq(0.9, 0.8, 0.75, 2.0 / 3, 0.6, 0.5)

  /** The highest of [[TailLevels]] with at least ten samples beyond it. */
  def tailLevel(n: Int): Option[Double] = TailLevels.find(p => beyond(n, p) >= 10)
}

/** Counts the bytes of files that appear (or grow) under a directory:
  * the "bytes written" side of write amplification. Called between
  * ticks, when the writer is quiescent. */
final class ByteTracker(root: String) {
  private val seen = mutable.HashMap.empty[String, Long]

  private def files(): Seq[(String, Long)] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.walk(p)
      try {
        val it = s.iterator()
        val out = mutable.ArrayBuffer.empty[(String, Long)]
        while (it.hasNext) {
          val f = it.next()
          if (Files.isRegularFile(f)) out += (f.toString -> Files.size(f))
        }
        out.toSeq
      } finally s.close()
    }
  }

  /** Bytes of files new or resized since the last call. */
  def delta(): Long = {
    var d = 0L
    files().foreach { case (f, n) =>
      val before = seen.getOrElse(f, -1L)
      if (before != n) { d += n; seen(f) = n }
    }
    d
  }

  /** Bytes currently under the root. */
  def total(): Long = files().map(_._2).sum
}

object Dirs {
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try {
        val all = new java.util.ArrayList[Path]()
        s.forEach(x => all.add(x))
        java.util.Collections.reverse(all)
        all.forEach(x => Files.deleteIfExists(x))
      } finally s.close()
    }
}

/** Seeded Zipf sampler over ranks [0, n): rank r is drawn with weight
  * 1 / (r + 1)^s, by inverse transform over a cumulative table. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
    var acc = 0.0
    val c = new Array[Double](n)
    var i = 0
    while (i < n) { acc += w(i); c(i) = acc; i += 1 }
    c.map(_ / acc)
  }
  def sample(rnd: java.util.SplittableRandom): Int = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}
