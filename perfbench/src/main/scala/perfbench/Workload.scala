package perfbench

import scala.collection.mutable

/** A metric value with its unit, in print order. */
final class Metrics {
  val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  def update(name: String, valueAndUnit: (Double, String)): Unit = values(name) = valueAndUnit
  def json: String = values.map { case (k, (v, u)) =>
    Json.str(k) + ":{\"value\":" + Json.num(v) + ",\"unit\":" + Json.str(u) + "}"
  }.mkString("{", ",", "}")
}

/** What one measurement saw.
  *  - `wallS`: the measured unit of work (a pass over the query set; a
  *    stream from its first due append or consume start to its last group
  *    commit);
  *  - `items`: queries completed or distinct messages landed, over
  *    `itemsWindowS` seconds;
  *  - `latenciesMs`: one sample per query run or per log segment;
  *  - `layers`: per-layer numbers, filled in traced measurements;
  *  - `check`: the correctness gate, run outside the timed window. */
final case class Measurement(
    wallS: Double,
    items: Long,
    itemsWindowS: Double,
    latenciesMs: Seq[Double],
    attempted: Int,
    failures: Seq[String],
    layers: Metrics,
    check: () => Seq[String],
    cleanup: () => Long) {
  /** The number a traced measurement is compared on for the overhead. */
  def headline(isLive: Boolean): Double =
    if (isLive) Stats.median(latenciesMs) else wallS
}

trait Workload {
  def name: String
  /** The repeatable part of set-up: fixture reads, wire build, staged
    * tables. Idempotent; repeated so that set-up time is a median. */
  def prepare(): Unit
  /** Runs every code path the measurement runs, so that the timed window
    * sees warm code generation and built staged tables. Returns the
    * mismatches found on the way. */
  def warmUp(seconds: Int): Seq[String]
  def measure(seconds: Int, tracer: Option[Tracer]): Measurement
}
