package graft
import graft.Harness.{fmt, jsonString}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The sf0.1 → sf1 scaling sweep behind SCALE.md: for EVERY query, one
  * warm pass at sf0.001 (JIT + codegen), then one timed run at sf0.1 and
  * one at the ScaleUp sf1 soak dir — same JVM, same session, back to
  * back, so the ratio isolates DATA scaling from compilation and session
  * noise. Emits one JSON line per query
  * `{"query":…,"t01":…,"t1":…,"exp":…}` (exp = log10 t1/t01; 1.0 =
  * linear) and a trailing summary line, to stdout and to
  * `bench_gates/scale_<tag>.json`.
  *
  * Usage: `runMain graft.ScaleBench /root/repo/tmpdata/sf1 [tag]` —
  * sf0.1 comes from the driver testdata; the argument is the soak dir.
  */
object ScaleBench {
  def main(args: Array[String]): Unit = {
    val sf1Dir = args(0)
    val tag = if (args.length > 1) args(1) else "r"
    val spark = Harness.session()
    def run(fn: (SparkSession, String) => DataFrame, dir: String): Double =
      Harness.time(fn(spark, dir))
    val out = new java.io.File("bench_gates", s"scale_$tag.json")
    out.getParentFile.mkdirs()
    val lines = collection.mutable.ArrayBuffer.empty[String]
    // incremental best-effort write after each query: a crash or an
    // unwritable dir mid-sweep must not lose the lines already measured
    def flush(): Unit =
      try java.nio.file.Files.write(out.toPath,
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
      catch { case e: Throwable =>
        System.err.println(s"[scalebench] artifact write skipped: $e")
      }
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        run(fn, "/root/testdata/sf0.001") // warm
        val t01 = run(fn, "/root/testdata/sf0.1")
        val t1 = run(fn, sf1Dir)
        val exp = math.log10(math.max(t1, 0.001) / math.max(t01, 0.001))
        val l = s"""{"query":"$name","t01":${fmt(t01, 3)},"t1":${fmt(t1, 3)},"exp":${fmt(exp, 3)}}"""
        println(l); lines += l
      } catch { case e: Throwable =>
        // String.valueOf: getMessage can be null, and an NPE here would
        // abort the sweep and lose every line
        val l = s"""{"query":"$name","err":${jsonString(String.valueOf(e.getMessage).take(80))}}"""
        println(l); lines += l
      }
      flush()
    }
    println(s"[scalebench] written $out (${lines.size} queries)")
    spark.stop()
  }
}
