package graft
import org.apache.spark.sql.SparkSession
import java.util.Locale

/** The heavy-tail sf1 → sf10 soak behind SCALE.md's 100 TB claim: for the
  * NAMED queries only, one warm pass at sf0.001 (JIT + codegen), then one
  * timed run at each of two soak dirs — same JVM, same session, back to
  * back, so the ratio isolates data scaling. Emits one JSON line per query
  * `{"query":…,"tA":…,"tB":…,"exp":…}` (exp = log10(tB/tA) over one decade;
  * 1.0 = linear) incrementally to `bench_gates/soak_<tag>.json`.
  *
  * Usage: `runMain graft.SoakBench <dirA> <dirB> <tag> q1 [q2 ...]` —
  * e.g. `runMain graft.SoakBench /root/repo/tmpdata/sf1
  * /root/repo/tmpdata/sf10 r11 typed_pedidos_fact triangle_parts`.
  */
object SoakBench {
  private def fmt(t: Double): String =
    String.format(Locale.ROOT, "%.3f", Double.box(t))

  def main(args: Array[String]): Unit = {
    val dirA = args(0)
    val dirB = args(1)
    val tag = args(2)
    val names = args.drop(3).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
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
    def jsonSafe(e: Throwable): String =
      String.valueOf(e.getMessage).take(80)
        .map(c => if (c == '"' || c == '\\' || c.isControl) ' ' else c)
    val out = new java.io.File("bench_gates", s"soak_$tag.json")
    out.getParentFile.mkdirs()
    val lines = collection.mutable.ArrayBuffer.empty[String]
    def flush(): Unit =
      try java.nio.file.Files.write(out.toPath,
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
      catch { case e: Throwable =>
        System.err.println(s"[soakbench] artifact write skipped: $e")
      }
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      try {
        run(fn, "/root/testdata/sf0.001") // warm
        val tA = run(fn, dirA)
        val tB = run(fn, dirB)
        val exp = math.log10(math.max(tB, 0.001) / math.max(tA, 0.001))
        val l = s"""{"query":"$name","tA":${fmt(tA)},"tB":${fmt(tB)},"exp":${fmt(exp)}}"""
        println(l); lines += l
      } catch { case e: Throwable =>
        val l = s"""{"query":"$name","err":"${jsonSafe(e)}"}"""
        println(l); lines += l
      }
      flush()
    }
    println(s"[soakbench] written $out (${lines.size} queries)")
    spark.stop()
  }
}
