package graft
import scala.collection.mutable
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    // Warm up whole-stage-codegen + JIT per query on the smallest SF so the
    // timed run measures engine throughput, not first-run compilation (which
    // amortizes to zero at scale). Falls back to the flagship query when no
    // smaller SF directory exists. Uses the same action as the timed run so
    // the codegen units that get JIT'd are the ones that get timed.
    // The SECOND (warm) sf0.001 pass is also timed: it gives a per-query
    // expectation floor the outlier-retry below scales up, so a
    // contention-inflated sf-dir measurement is recognizable as such.
    val warmDir = sfDir.replaceAll("sf[0-9.]+$", "sf0.001")
    val warmSec = mutable.Map.empty[String, Double]
    if (warmDir != sfDir && new java.io.File(warmDir).isDirectory)
      SparkEntry.queries.foreach { case (name, fn) =>
        try {
          Harness.time(fn(spark, warmDir))
          warmSec(name) = Harness.time(fn(spark, warmDir))
        } catch { case _: Throwable => () }
      }
    else
      try Harness.time(SparkEntry.entry(spark)) catch { case _: Throwable => () }
    // Each query is timed at least twice and the MIN is reported: a single
    // pass is vulnerable to one-off JIT/codegen-compile stalls under load
    // (observed: a 1 s query recorded at 14 s once), and steady-state
    // throughput is what the engine contract is about. Min-of-2 is still
    // vulnerable to sustained box contention inflating BOTH passes (observed
    // r8: raw_unwrap recorded 17.0 s where a fresh JVM measures 3.3 s; r12:
    // two full gates of identical code disagreed 25% in total), so two
    // outlier-retry rules grant up to two extra passes:
    //   (a) instability — the best two runs disagree by >20% (and the best
    //       is >0.5 s, below which scheduler noise dominates) — tightened
    //       from 25% after the r12 gate divergence;
    //   (b) expectation — the min exceeds 3× the warm sf0.001 time scaled by
    //       a generous LINEAR factor for the sf ratio (real scaling is
    //       sublinear for every query here, so a breach means the run is
    //       not measuring the plan).
    // ALL run times are recorded in the artifact ("runs"), plus per-query
    // MEDIANS ("medians") next to the mins, so a contended gate is
    // recognizable by min≪median instead of silently collapsing into the
    // min. Cross-gate comparison protocol: see BASELINE.md.
    val sfRatio = {
      def sf(d: String) = "sf([0-9.]+)$".r.findFirstMatchIn(d).map(_.group(1).toDouble)
      (for { a <- sf(sfDir); b <- sf(warmDir) } yield a / b).getOrElse(100.0)
    }
    var failed = List.empty[String]
    val allRuns = mutable.LinkedHashMap.empty[String, Seq[Double]]
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val runs = mutable.ArrayBuffer.empty[Double]
      var fails = 0
      def pass(): Unit =
        try runs += Harness.time(fn(spark, sfDir))
        catch { case e: Throwable =>
          fails += 1
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
      pass(); pass()
      def suspicious: Boolean = runs.size >= 2 && {
        val s = runs.sorted
        val unstable = s(0) > 0.5 && s(1) > s(0) * 1.20
        val overExpectation = warmSec.get(name)
          .exists(w => s(0) > 3 * math.max(1.0, w * sfRatio))
        unstable || overExpectation
      }
      // (c) convergence — the r16 driver gate showed four monotonically
      // decaying samples whose min never left a multi-minute interference
      // window (message_itens_fact [98.0, 58.6, 41.3, 16.4]: min-of-4
      // reported ~6× the quiet-box number). While the LATEST pass still
      // improves the running min by >25% the measurement has not converged,
      // so grant extra passes beyond the 4-run budget, bounded at 6 total.
      // Same >0.5 s floor as rule (a): below it scheduler noise produces
      // spurious 25% "improvements". Additions-only: the timed action and
      // rules (a)/(b) are untouched.
      def stillFalling: Boolean = runs.size >= 2 && {
        val prevMin = runs.init.min
        prevMin > 0.5 && runs.last < prevMin * 0.75
      }
      while (fails == 0 &&
          ((runs.size < 4 && suspicious) || (runs.size < 6 && stillFalling))) {
        System.err.println(s"[bench] $name retry ${runs.size + 1}: runs so far ${runs.map(t => Harness.fmt(t, 2)).mkString(", ")} s")
        pass()
      }
      if (runs.isEmpty) failed ::= name
      allRuns(name) = runs.toSeq
      name -> (if (runs.isEmpty) -1.0 else runs.min)
    }.toMap
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val rs = allRuns.map { case (k, v) => "\"" + k + "\":[" + v.map(t => Harness.fmt(t, 3)).mkString(",") + "]" }
      .mkString("{", ",", "}")
    def median(v: Seq[Double]): Double = {
      val s = v.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val ms = allRuns.map { case (k, v) =>
      "\"" + k + "\":" + (if (v.isEmpty) "-1.0" else Harness.fmt(median(v), 3))
    }.mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    val medianTotal = allRuns.values.filter(_.nonEmpty).map(median).sum
    // Full record: "medians" precedes "queries" so a human reading a
    // truncated tail still sees the contention-diagnosis map first; the
    // complete line lives in bench_gates/<tag>.json either way.
    val line = s"""{"metric":"total","value":$total,"unit":"sec","median_total":${Harness.fmt(medianTotal, 3)},"medians":$ms,"queries":$qs,"runs":$rs,"sf":"$sfDir"}"""
    // The gate path is resolved BEFORE anything prints so the headline
    // line below can name it. The tag comes from SPARK_GRAFT_BENCH_TAG
    // when set (the way ScaleBench takes its tag) — inferring it from cwd
    // contents mislabels a re-run after the driver's snapshot lands, and a
    // non-repo cwd would label everything r01. The inference remains only
    // as the no-env fallback for the driver's own invocation.
    // A committed gate file is IMMUTABLE: a tag names one measurement of
    // one code state, and round-over-round comparisons cite it by name.
    // The r13 driver re-run silently overwrote the 220.5 s gate-of-record
    // with a 245.7 s contended re-measure — so an existing tag shunts the
    // new line to `<tag>-rerun`, `<tag>-rerun2`, … (the r13b/r13c
    // convention, automated). Protocol note in BASELINE.md.
    val gate: Option[java.io.File] = try {
      val repo = new java.io.File(".").getCanonicalFile
      val tag = sys.env.get("SPARK_GRAFT_BENCH_TAG").getOrElse {
        val round = Option(repo.list()).getOrElse(Array.empty[String])
          .flatMap("""BENCH_r(\d+)\.json""".r.findFirstMatchIn(_))
          .map(_.group(1).toInt).foldLeft(0)(math.max) + 1
        f"r$round%02d"
      }
      val dir = new java.io.File(repo, "bench_gates")
      dir.mkdirs()
      // The gate file is CREATED (empty) at resolution time with
      // CREATE_NEW semantics, not merely name-resolved: a find-then-write
      // sequence is racy (two concurrent bench runs can resolve the same
      // path and the second silently overwrites the supposedly immutable
      // gate), and a later failed write would leave a committed headline
      // pointing at a nonexistent file. createFile throws
      // FileAlreadyExistsException atomically, so each concurrent run
      // claims its own -rerunN suffix.
      Iterator.from(0)
        .map {
          case 0 => new java.io.File(dir, s"$tag.json")
          case 1 => new java.io.File(dir, s"$tag-rerun.json")
          case i => new java.io.File(dir, s"$tag-rerun$i.json")
        }
        .flatMap { f =>
          try { java.nio.file.Files.createFile(f.toPath); Some(f) }
          catch { case _: java.nio.file.FileAlreadyExistsException => None }
        }
        .nextOption()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] gate path unresolved: ${e.getMessage}")
      None
    }
    // FIRST stdout line: a short SELF-CONTAINED headline. The driver's
    // BENCH_r{N}.json clips captured stdout at 2 kB, and no 2 kB prefix of
    // the ~50 kB full line is valid JSON — BENCH_r{11..14}.json all carry
    // "parsed": null. This line is < 200 bytes, complete JSON on its own,
    // and points at the gate file holding the full per-query maps.
    val gateRel = gate.map(g => s"bench_gates/${g.getName}").getOrElse("")
    val headline = s"""{"metric":"total","value":$total,"unit":"sec","median_total":${Harness.fmt(medianTotal, 3)},"n":${results.size},"failed":${failed.size},"sf":"$sfDir","gate":"$gateRel"}"""
    println(headline)
    println(line)
    // Persist the COMPLETE line to bench_gates/<tag>.json (the file was
    // already claimed empty at resolution time) so round-over-round
    // per-query diffs never depend on driver truncation. Best-effort: a
    // read-only cwd must not fail the bench.
    try {
      gate.foreach { out =>
        java.nio.file.Files.write(out.toPath, (line + "\n").getBytes("UTF-8"))
        System.err.println(s"[bench] full per-query runs written to $out")
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] gate artifact write skipped: ${e.getMessage}")
    }
    spark.stop()
    // LAST stdout line: the same headline again. The driver keeps only the
    // last ~2 kB of stdout, and no 2 kB suffix of the ~50 kB full-maps line
    // is valid JSON — BENCH_r{11..15}.json all carry "parsed": null even
    // after r15 moved the headline FIRST (the tail clip discards the
    // front). With the headline as the final application line, any tail
    // clip ends with complete self-contained JSON (sbt's own trailing
    // [success] line is the only thing after it).
    println(headline)
    if (failed.nonEmpty) {
      System.err.println(s"[bench] FAILED queries: ${failed.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
