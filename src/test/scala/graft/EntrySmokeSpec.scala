package graft

/** Whole-map smoke over [[SparkEntry]]: every declared query must survive
  * analysis and physical planning, and the oracle map must line up with the
  * query map. Round-5 lesson: a query (`sales_cube`) shipped with an
  * `AnalysisException` because no test ever built its plan — Verify.scala
  * swallows per-query throws (by design, to keep the dump going), so this
  * spec is the gate that keeps a declared-but-unrunnable query from ever
  * shipping green again. Building `executedPlan` is cheap (no execution)
  * and catches analysis, resolution and planning breaks for all queries.
  */
class EntrySmokeSpec extends SparkSuite {

  test("every declared query survives analysis + physical planning") {
    val broken = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      try {
        q(spark, sfDir).queryExecution.executedPlan
        None
      } catch {
        case e: Throwable =>
          Some(s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
    }
    assert(broken.isEmpty,
      s"${broken.size} declared queries break before execution:\n${broken.mkString("\n")}")
  }

  test("every oracleSql key has a matching queries entry") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracleSql keys without a query: $orphans")
  }

  test("every registry name is declared once") {
    // a repeated name would collapse silently in the registry's .toMap
    val dups = SparkEntry.registry.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    assert(dups.isEmpty, s"registry names declared more than once: $dups")
  }
}
