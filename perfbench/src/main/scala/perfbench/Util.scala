package perfbench

import java.io.File
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Wall clock with sub-millisecond resolution on the epoch scale, so bench
  * timers and Spark listener timestamps (epoch ms) share one axis. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

object Stats {
  def median(v: Seq[Double]): Double = quantile(v, 0.5)

  /** Linear-interpolated quantile (the "inclusive" method); 0 when empty. */
  def quantile(v: Seq[Double], q: Double): Double =
    if (v.isEmpty) 0.0
    else {
      val s = v.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Minimal JSON rendering: the artifacts are flat maps, lists and spans. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case o: Option[_] => o.map(render).getOrElse("null")
    case other => str(other.toString)
  }
}

object Dirs {
  def rmTree(f: File): Unit =
    if (f.exists()) {
      val walk = Files.walk(f.toPath)
      try walk.iterator().asScala.toSeq.reverse.foreach(p => Files.deleteIfExists(p))
      finally walk.close()
    }

  private def files(f: File): Seq[Path] =
    if (!f.exists()) Nil
    else {
      val walk = Files.walk(f.toPath)
      try walk.iterator().asScala.filter(p => Files.isRegularFile(p)).toList
      finally walk.close()
    }

  def bytes(f: File): Long = files(f).map(p => Files.size(p)).sum

  /** Data files of a parquet sink (no `_SUCCESS`, no checksums). */
  def parquetFiles(f: File): Seq[Path] =
    files(f).filter(_.getFileName.toString.endsWith(".parquet"))

  /** Leaf partition directories named `<col>=<v>` for `col`. */
  def partitionDirs(f: File, col: String): Int =
    if (!f.exists()) 0
    else {
      val walk = Files.walk(f.toPath)
      try walk.iterator().asScala
        .count(p => Files.isDirectory(p) && p.getFileName.toString.startsWith(col + "="))
      finally walk.close()
    }

  /** Completed staged tables under the program's staged root. */
  def stagedTables(root: File): Int = files(root).count(_.getFileName.toString == "_SUCCESS")
}
