package graftbench

import java.io.File
import java.nio.file.{Files, Path}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest of `qs` that leaves at least ten samples above it. */
  def tailQuantile(n: Int, qs: Seq[Double]): Option[Double] =
    qs.sorted.reverse.find(q => n * (1 - q) >= 10)
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case r: Raw => r.json
    case other => other.toString // Int, Long, Boolean
  }
  final case class Raw(json: String)
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** Host stamp carried by every report line. */
final case class Host(nproc: Int, memGb: Double, jdk: String, spark: String, master: String) {
  def stamp: String = f"nproc=$nproc mem=${memGb}%.1fGB jdk=$jdk spark=$spark $master"
}

object Host {
  def memGb: Double = {
    val f = new File("/proc/meminfo")
    if (!f.exists) Runtime.getRuntime.maxMemory / 1e9
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith("MemTotal:"))
        .map(_.split("\\s+")(1).toDouble / (1024 * 1024)).getOrElse(0.0)
      finally src.close()
    }
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double = {
    val f = new File("/proc/self/status")
    if (!f.exists) return Runtime.getRuntime.totalMemory / 1e6
    val src = scala.io.Source.fromFile(f)
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}

object Files2 {
  import scala.jdk.CollectionConverters._

  /** Total size of the regular files under `p` (hidden and marker files excluded). */
  def bytesUnder(p: Path): Long = {
    if (!Files.exists(p)) return 0L
    val it = Files.walk(p)
    try it.iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot { f => val n = f.getFileName.toString; n.startsWith(".") || n.startsWith("_") }
      .map(Files.size).sum
    finally it.close()
  }

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val it = Files.walk(p)
    try it.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally it.close()
  }
}
