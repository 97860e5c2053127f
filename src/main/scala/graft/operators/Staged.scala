package graft.operators
import org.apache.spark.{JobExecutionStatus, SparkContext}
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.io.File
import java.nio.file.{Files, StandardCopyOption}

/** Build-once parquet staging for derived tables whose construction cost
  * should amortize across queries and runs — the production "persist the
  * index" pattern the ANN-graph and BM25 docstrings prescribed by hand
  * (reference: the staged-zone fixture protocol in
  * [[graft.operators.Ingest]], generalized to DERIVED data).
  *
  * The key encodes everything the content depends on: a generation
  * version (bump it when the builder's logic changes), every builder
  * parameter, and the source dir identity INCLUDING a content
  * fingerprint ([[dirKey]] — file count + total bytes + max mtime + the
  * canonical path), so regenerating a fixture in place (exactly what
  * `ScaleUp` does to `tmpdata/sf1` between replication factors) MISSES
  * the old stage instead of silently serving the previous corpus's
  * index, and any logic drift lands in a fresh directory.
  *
  * Every build-once artifact — a staged table, a staged pair, and each
  * [[GenerationChain]] generation — is published by ONE write-once
  * protocol, [[publishOnce]]: every table is built into one scratch dir
  * under the same root, each table's `_SUCCESS` is required, an
  * incomplete leftover target is cleared, and a single `ATOMIC_MOVE`
  * publishes the whole target. A target therefore either doesn't exist
  * or holds every table complete-with-`_SUCCESS` — a reader can never
  * observe a half-overwritten table or a new table beside an old one, a
  * build that throws removes its scratch (only a killed JVM leaves scratch
  * garbage behind), and when two sessions race
  * the first rename wins and the loser discards its scratch and reads
  * the winner. That `_SUCCESS` check is the reuse rule: a prior result
  * is served only while it holds. Correctness stays oracle-guarded on
  * top of all this: the DuckDB twin replays the BUILD from the base
  * tables, so a corrupt staged table fails the gate loudly instead of
  * silently serving.
  *
  * The root lives UNDER THE REPO (`tmpdata/graft_staged`, gitignored) —
  * not world-writable /tmp where another user or branch could poison a
  * key — with `GRAFT_STAGED_ROOT` as the override for pointing serving
  * at shared storage. At 100 TB the same shape holds with the root on
  * an object store: the index build is a scheduled job, the query path
  * reads the parquet — here both live behind one call so every query
  * stays self-contained. */
object Staged {
  private[operators] def root: String =
    sys.env.getOrElse("GRAFT_STAGED_ROOT", "tmpdata/graft_staged")

  /** Where table `t` of a target lives; "" names the target itself (a
    * single-table stage keeps its parquet files directly in its dir). */
  private def tableDir(d: File, t: String): File =
    if (t.isEmpty) d else new File(d, t)

  /** The validity condition of every build-once artifact: each table of
    * `tables` under `d` carries its `_SUCCESS`. */
  private[operators] def complete(d: File, tables: Seq[String]): Boolean =
    tables.forall(t => new File(tableDir(d, t), "_SUCCESS").exists())

  /** The write-once publish: a no-op returning false when `target` is
    * already complete; otherwise `build` yields one frame per `tables`
    * entry (same order), all land in one scratch dir under
    * `$scratchRoot/_tmp`, and one atomic rename publishes the whole
    * target. Returns true when THIS call published; when a concurrent
    * builder's rename won, its complete target stands and this call's
    * scratch is discarded. */
  private[operators] def publishOnce(target: File, scratchRoot: String,
      tables: Seq[String], what: String)(build: => Seq[DataFrame]): Boolean = {
    if (complete(target, tables)) return false
    System.err.println(s"[graft] $what (first use — later reads are free)")
    val frames = build
    require(frames.size == tables.size,
      s"$target: build yielded ${frames.size} frames for ${tables.size} tables")
    val tmp = new File(s"$scratchRoot/_tmp/${java.util.UUID.randomUUID()}")
    tmp.getParentFile.mkdirs()
    val sc = frames.head.sparkSession.sparkContext
    val tag = s"graft-publish-${tmp.getName}"
    try {
      sc.addJobTag(tag)
      try tables.zip(frames).foreach { case (t, df) =>
        df.write.mode("overwrite").parquet(tableDir(tmp, t).toString)
      } finally sc.removeJobTag(tag)
      require(complete(tmp, tables), s"build left no _SUCCESS in $tmp")
      // a legacy/corrupt target (exists but incomplete — e.g. one table of
      // a multi-table stage) blocks the rename: clear it; completeness can
      // only be observed through `complete`
      if (target.exists() && !complete(target, tables)) rmTree(target)
      target.getParentFile.mkdirs()
      try Files.move(tmp.toPath, target.toPath, StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileSystemException if complete(target, tables) =>
        rmTree(tmp) // lost the race to a concurrent builder — theirs is whole
      }
      require(complete(target, tables), s"publish failed for $target")
    } catch { case e: Throwable =>
      // a failed build's partial parquet is garbage nobody would remove
      try { awaitTasks(sc, tag); rmTree(tmp) }
      catch { case c: Throwable => e.addSuppressed(c) }
      throw e
    }
    true
  }

  /** Blocks, for at most 30 s, while a task of a job tagged `tag` still
    * runs. A failed job's other tasks are flagged killed, not waited for,
    * so one still starting up can create its output dir after the failure
    * has reached the driver. */
  private def awaitTasks(sc: SparkContext, tag: String): Unit = {
    val st = sc.statusTracker
    def running = st.getJobIdsForTag(tag).exists(st.getJobInfo(_).exists { job =>
      job.status == JobExecutionStatus.RUNNING ||
        job.stageIds.exists(st.getStageInfo(_).exists(_.numActiveTasks > 0))
    })
    val deadline = System.nanoTime() + 30L * 1000000000
    while (running && System.nanoTime() < deadline) Thread.sleep(20)
  }

  /** Delete `d` and everything under it; absent `d` is a no-op. */
  private[graft] def rmTree(d: File): Unit =
    if (d.exists()) {
      val walk = Files.walk(d.toPath)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
      finally walk.close()
    }

  private def keyDir(key: String): File = {
    require(!key.contains(".."), s"staging key escapes the root: $key")
    new File(s"$root/$key")
  }

  /** `key` path-safe segments, e.g. "ann_graph_v1/sf0.01_q7_k5_b100_r2".
    * `build` runs at most once per (key, source-content) per filesystem
    * lifetime. */
  def parquet(spark: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    val dir = keyDir(key)
    publishOnce(dir, root, Seq(""), s"staging $key")(Seq(build))
    spark.read.parquet(dir.toString)
  }

  /** Two tables built by ONE computation (e.g. PQ codebooks + the codes
    * encoded with them), staged as `$key/{a,b}`: if either is incomplete
    * the pair is rebuilt and both are written — staging them
    * independently would run the shared training twice on a cold start.
    * The pair is one target, so no reader can pair a new A with an old
    * or absent B: the Lloyd chain's double-accumulation order is not
    * bit-deterministic, so a rebuilt A need not match an older B. */
  def parquetPair(spark: SparkSession, key: String, a: String, b: String)(
      build: => (DataFrame, DataFrame)): (DataFrame, DataFrame) = {
    val dir = keyDir(key)
    publishOnce(dir, root, Seq(a, b), s"staging $key") {
      val (da, db) = build
      Seq(da, db)
    }
    (spark.read.parquet(s"$dir/$a"), spark.read.parquet(s"$dir/$b"))
  }

  /** A source dir as a key segment: a human-readable flattened prefix
    * plus a fingerprint hash of (canonical path, max mtime, and every
    * file's relative path + size, sorted). The hash makes three things
    * impossible by construction: distinct paths colliding onto one key
    * ('a/b' vs 'a_b' — the canonical path feeds the hash even though the
    * readable prefix flattens separators); a REGENERATED source dir
    * silently serving the previous content's stage (the fingerprint
    * moves, the old key misses, the stage rebuilds); and — because every
    * parquet writer stamps a fresh UUID into each part-file NAME — a
    * same-millisecond equal-byte-count in-place parquet regeneration
    * slipping through the old (count, bytes, mtime)-only fingerprint's
    * mtime-granularity blind spot (the r15 ScaleSpec needed a
    * setLastModified workaround for exactly that; the per-file names
    * close it, and the spec now passes without touching the clock).
    *
    * Deliberately NOT cached per session: the walk is pure filesystem
    * metadata, measured 1.5 ms on the largest fixture here (tmpdata/sf1,
    * 186 files) and 0.2 ms on a driver sf dir — the generation chains'
    * one-walk-per-generation adds single-digit milliseconds to a
    * multi-second query, while a session-lifetime cache would reintroduce
    * the stale-stage-after-in-place-regeneration hazard the fingerprint
    * exists to kill (a tested contract: ScaleSpec "Staged rebuilds when
    * the source dir is regenerated in place"). At object-store scale the
    * equivalent is one LIST call — also the cost floor any consistent
    * cache-validity probe would pay anyway. */
  def dirKey(sfDir: String): String = {
    val f = new File(sfDir)
    val canon = f.getCanonicalPath
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(canon.getBytes("UTF-8"))
    var mtime = 0L
    if (f.exists()) {
      // walk the CANONICAL path so the per-file relative segment below is
      // spelling-independent ('tmpdata/sf1' and its absolute form hash
      // identically)
      val walk = Files.walk(new File(canon).toPath)
      val files = try {
        val buf = scala.collection.mutable.ArrayBuffer.empty[File]
        walk.forEach { p =>
          val file = p.toFile
          if (file.isFile) buf += file
        }
        buf.sortBy(_.getPath)
      } finally walk.close()
      files.foreach { file =>
        mtime = math.max(mtime, file.lastModified())
        val rel = file.getPath.stripPrefix(canon)
        md.update(s"|$rel:${file.length()}".getBytes("UTF-8"))
      }
    }
    md.update(s"|$mtime".getBytes("UTF-8"))
    val hash = md.digest().take(5).map(b => f"$b%02x").mkString
    sfDir.replaceAll("^/", "").replaceAll("[/\\\\]", "_") + "-" + hash
  }
}
