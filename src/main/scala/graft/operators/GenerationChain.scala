package graft.operators
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.io.File

/** ONE code path for every write-back generation chain in the engine —
  * the batch impact-index chain (`TextOps.stagedImpactGen`), the batch
  * graph chain (`Similarity.stagedGraphGen`), and the streaming index
  * ingest (`Streaming.indexApplyBatch`) — so retention and the
  * drift→compaction policy are implemented once.
  *
  * A chain lives under one `root` directory and holds immutable
  * generations `gen=<id>/{table…}`. The contract:
  *
  *  - '''Whole-generation atomicity.''' A generation is published by
  *    [[Staged]]'s one write-once protocol ([[Staged.publishOnce]]):
  *    every table lands in one scratch dir under `root/_tmp`, then a
  *    single rename publishes the whole generation, so it either does
  *    not exist or is complete with every table's `_SUCCESS`. A reader
  *    doing the latest-complete scan can never observe a generation
  *    deleted or half-written mid-publish (mode-overwrite writes in
  *    place could be caught mid-rewrite by a concurrent reader).
  *  - '''Immutability + redelivery.''' [[getOrPublish]] short-circuits
  *    when the generation is already complete — a redelivered streaming
  *    micro-batch re-acks and returns instead of re-overwriting a
  *    generation a reader may be serving from.
  *  - '''Retention.''' [[retire]] deletes all but the newest `keepLast`
  *    complete generations. The newest generation is never retired, and
  *    engine batches are sequential, so any redelivered or future batch
  *    id still finds its predecessor ([[latestBelow]] = the newest
  *    complete generation, which retention preserves) — without
  *    retention the streaming chain kept a vocabulary-sized parquet pair
  *    per micro-batch forever (~1,440/day at one batch a minute).
  *  - '''Bounded discovery.''' [[list]] is one directory listing, not
  *    the O(batches) `batchId-1 .. 0` existence probe the stream ran
  *    per batch. */
final class GenerationChain(val root: String, val tables: Seq[String]) {
  require(tables.nonEmpty, "a generation chain needs at least one table")

  private def genDir(id: Long) = new File(s"$root/gen=$id")

  def complete(id: Long): Boolean = Staged.complete(genDir(id), tables)

  def tablePath(id: Long, table: String): String = {
    require(tables.contains(table), s"unknown chain table $table")
    s"$root/gen=$id/$table"
  }

  def read(spark: SparkSession, id: Long, table: String): DataFrame =
    Tables.parquet(spark, tablePath(id, table))

  /** Ids of COMPLETE generations, ascending — one readdir of `root`. */
  def list(): Seq[Long] = {
    val names = Option(new File(root).list()).getOrElse(Array.empty[String])
    names.iterator
      .flatMap("""^gen=(\d+)$""".r.findFirstMatchIn(_))
      .map(_.group(1).toLong)
      .filter(complete)
      .toSeq.sorted
  }

  def latest(): Option[Long] = list().lastOption

  /** The newest complete generation strictly below `id` — the
    * predecessor a (re)delivered batch `id` folds onto. Deterministic
    * under redelivery: own-id and later generations are excluded, and
    * earlier generations are immutable. */
  def latestBelow(id: Long): Option[Long] = list().filter(_ < id).lastOption

  /** Build-if-absent: when generation `id` is already complete this is
    * a no-op returning false (the redelivery short-circuit); otherwise
    * `build` must yield one DataFrame per [[tables]] entry (same order)
    * and the whole generation is published at once. Returns true when
    * THIS call published. */
  def getOrPublish(id: Long)(build: => Seq[DataFrame]): Boolean =
    Staged.publishOnce(genDir(id), root, tables, s"publishing $root gen=$id")(build)

  /** Delete all but the newest `keepLast` complete generations (plus any
    * ids in `pin` — e.g. a compaction marker). Returns the retired ids.
    * Incomplete stragglers (crashed scratch never reaches the root, so
    * these are only pre-chain legacy dirs) are left for their own
    * builder's clear-before-move. */
  def retire(keepLast: Int, pin: Set[Long] = Set.empty): Seq[Long] = {
    require(keepLast >= 1, "retention must keep at least the newest generation")
    val ids = list()
    val retired = ids.dropRight(keepLast).filterNot(pin)
    retired.foreach(id => Staged.rmTree(genDir(id)))
    retired
  }
}

object GenerationChain {
  /** A content-keyed chain under the [[Staged]] root — the batch chains'
    * convention: the key carries the generation version, builder params,
    * and the source fingerprint ([[Staged.dirKey]]), so logic drift or a
    * regenerated corpus lands in a fresh chain instead of serving stale
    * generations. */
  def staged(key: String, tables: Seq[String]): GenerationChain = {
    require(!key.contains(".."), s"chain key escapes the root: $key")
    new GenerationChain(s"${Staged.root}/$key", tables)
  }
}
