package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Block-manager hygiene for long-lived sessions.
  *
  * `Dataset.localCheckpoint` is the engine's standard lineage cut for
  * iterative operators (graph peels, star contraction, shared LM base
  * tables), but every checkpoint PINS its blocks in the block manager until
  * someone unpersists them — Spark's ContextCleaner only reclaims a
  * checkpoint when its RDD is garbage-collected on the driver, which plan
  * objects held by a REPL/notebook/benchmark harness prevent indefinitely.
  * A session that chains many such operators therefore accumulates dead
  * blocks monotonically: storage fills, shuffle-hash builds spill, and a
  * 9-second query degrades to minutes (observed: `triangle_parts` 8.5 s in
  * a fresh JVM vs 103.9 s after 130 leaked queries in one session).
  *
  * Two release points fix it:
  *  - iterative operators run their rounds through [[rounds]] (or
  *    [[generations]] for a loop that stops at its own fixpoint test),
  *    which releases each round's checkpoint as soon as the next round is
  *    materialized — peak pinned storage becomes one round, not `rounds`;
  *  - session owners (benchmarks, verify dumps, tests, notebooks) call
  *    [[releaseAll]] between queries to drop the FINAL checkpoint that the
  *    returned plan still references, plus any cached plans.
  */
object Hygiene {

  /** Unpersist the block-manager blocks behind a `localCheckpoint`'ed
    * frame. Safe only once no live plan will read the frame again — a local
    * checkpoint truncates lineage, so the blocks are unrecoverable after
    * release. Every leaf checkpoint of `df` is released, so pass the
    * checkpointed frame itself, never a plan over shared checkpoints. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _             => ()
    }

  /** The round loop of every iterative operator: round 0 is `input`
    * eagerly checkpointed, round i is `step(round i−1)` eagerly
    * checkpointed, and round i−1 is released once round i is materialized.
    * Returns round `n` — n + 1 checkpoints, one left pinned for the
    * returned plan until [[releaseAll]]. A loop whose last round stays
    * lazy applies its step once more to `rounds(input, n − 1)(step)`. */
  def rounds(input: DataFrame, n: Int)(step: DataFrame => DataFrame): DataFrame = {
    require(n >= 0, s"round count must be non-negative, got $n")
    generations(input)(step).drop(n).next()
  }

  /** [[rounds]] without a round count, for a loop that stops at its own
    * fixpoint test: round 0 is checkpointed at the call, round i when the
    * iterator is asked for it. Each release hits only a checkpoint made
    * here, never a shared checkpoint that `step` reads. */
  def generations(input: DataFrame)(
      step: DataFrame => DataFrame): Iterator[DataFrame] =
    Iterator.iterate(input.localCheckpoint()) { prev =>
      val next = step(prev).localCheckpoint()
      release(prev)
      next
    }

  /** Drop every persistent RDD and cached plan in the session — the
    * between-queries reset that keeps a long-lived session at steady-state
    * memory. `blocking = true` waits for the block manager to confirm
    * removal (benchmarks want the storage actually empty before the next
    * measurement starts). */
  def releaseAll(spark: SparkSession, blocking: Boolean = false): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking))
    spark.catalog.clearCache()
  }
}
