package graft
import org.apache.spark.sql.SparkSession
import java.util.Locale

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
  private def fmt(t: Double): String =
    String.format(Locale.ROOT, "%.3f", Double.box(t))

  def main(args: Array[String]): Unit = {
    val sf1Dir = args(0)
    val tag = if (args.length > 1) args(1) else "r"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // the Bench lesson: weak-ref broadcast cleanup never fires on a big
      // heap across 500+ query runs without the periodic GC
      .config("spark.cleaner.periodicGC.interval", "2min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        dir: String): Double = {
      val t0 = System.nanoTime()
      fn(spark, dir).queryExecution.toRdd.count()
      val t = (System.nanoTime() - t0) / 1e9
      Hygiene.releaseAll(spark, blocking = true)
      t
    }
    // JSON-safe error text: e.getMessage can be null (NPE in the catch
    // would abort the sweep and lose every line), and backslashes /
    // control chars would make the artifact invalid JSON.
    def jsonSafe(e: Throwable): String =
      String.valueOf(e.getMessage).take(80)
        .map(c => if (c == '"' || c == '\\' || c.isControl) ' ' else c)
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
        val l = s"""{"query":"$name","t01":${fmt(t01)},"t1":${fmt(t1)},"exp":${fmt(exp)}}"""
        println(l); lines += l
      } catch { case e: Throwable =>
        val l = s"""{"query":"$name","err":"${jsonSafe(e)}"}"""
        println(l); lines += l
      }
      flush()
    }
    println(s"[scalebench] written $out (${lines.size} queries)")
    spark.stop()
  }
}
