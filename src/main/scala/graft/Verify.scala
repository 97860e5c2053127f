package graft
import graft.Harness.jsonString
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing names: dump only those queries (local iteration);
    // the driver passes exactly two args and dumps everything
    val only = args.drop(2).toSet
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    // Delete the previous dump for a query BEFORE building its DataFrame:
    // construction is eagerly analyzed, so a regression that throws during
    // analysis would otherwise leave the prior run's parquet in place and the
    // oracle gate would compare stale-but-matching results — a false green.
    // After the delete, any failure leaves no directory and the gate reports
    // the query missing, which is loud.
    def rmTree(dir: java.nio.file.Path): Unit =
      if (Files.exists(dir)) {
        val walk = Files.walk(dir)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.delete(p))
        finally walk.close()
      }
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // the delete shares the per-query try: one query's IO hiccup must
      // cost that query's dump, not every remaining query's
      try {
        rmTree(Paths.get(s"$outDir/$name"))
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally Hygiene.releaseAll(spark) // drop checkpoint blocks between dumps
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // The authoritative query manifest: EVERY registered query name, written
    // on full runs only (a subset run is a local iteration, not a gate).
    // tools/check.py --json refuses to emit a correctness artifact unless
    // every manifest entry is present and compared — the r13 lesson, where
    // the round's CORRECTNESS artifact shipped as `{}` and nothing noticed.
    if (only.isEmpty)
      Files.writeString(Paths.get(s"$outDir/queries.json"),
        SparkEntry.queries.keys.toSeq.sorted.map(jsonString).mkString("[", ",", "]"))
    spark.stop()
  }
}
