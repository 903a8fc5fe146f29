package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardOpenOption}

object Stats {

  /** Median (mean of the two middle values for an even count). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** The highest percentile with at least ten samples beyond it: by
    * nearest rank, the k-th smallest of n samples has n − k above it, so
    * the answer is the (n − 10)-th smallest, at percentile 100·(n−10)/n.
    * With ten or fewer samples no percentile qualifies and the rule falls
    * back to the maximum (percentile 100, 0 beyond). Returns (value,
    * percentile, samples beyond). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    if (n <= 10) (s.last, 100.0, 0)
    else (s(n - 11), 100.0 * (n - 10) / n, 10)
  }
}

/** A minimal JSON renderer for the benchmark's own records: maps (keys
  * rendered in insertion order), sequences, strings, numbers, booleans,
  * Options. Non-finite doubles render as null. */
object Json {
  def render(v: Any): String = {
    val sb = new StringBuilder
    write(sb, v)
    sb.toString
  }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => write(sb, x)
    case s: String => quote(sb, s)
    case b: Boolean => sb ++= b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) sb ++= "null" else sb ++= d.toString
    case f: Float => write(sb, f.toDouble)
    case n: Int => sb ++= n.toString
    case n: Long => sb ++= n.toString
    case m: collection.Map[_, _] =>
      sb += '{'
      var first = true
      for ((k, x) <- m) {
        if (!first) sb += ','
        first = false
        quote(sb, k.toString); sb += ':'; write(sb, x)
      }
      sb += '}'
    case xs: Iterable[_] =>
      sb += '['
      var first = true
      for (x <- xs) {
        if (!first) sb += ','
        first = false
        write(sb, x)
      }
      sb += ']'
    case xs: Array[_] => write(sb, xs.toSeq)
    case other => quote(sb, other.toString)
  }

  private def quote(sb: StringBuilder, s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < 0x20 => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
}

/** Run artifacts: one file per run, never overwritten. A run's name
  * carries workload, seed, core count, trace flag and a run id; creating a
  * file that already exists fails instead of replacing it. */
object Artifacts {
  def baseName(workload: String, seed: Long, cores: Int, trace: Boolean,
      runId: String): String =
    s"$workload-seed$seed-c$cores-trace${if (trace) 1 else 0}-$runId"

  /** Write `content` to a NEW file; throws FileAlreadyExistsException if
    * `path` exists. */
  def writeNew(path: Path, content: String): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, content.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
  }
}
