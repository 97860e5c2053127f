package graft
import org.apache.spark.sql.functions._

/** Dev harness: mean serving recall@topk of the anchored graph walk
  * ([[graft.operators.Similarity.annGraphRecall]]) over a parameter grid —
  * the receipt generator for the recall numbers quoted in the
  * `annGraphSearchOos` doc block and the auto-sizing rule.
  *
  * `runMain graft.RecallGrid sf0.1 "nBits=4,5,6" "nTables=4" "beam=48" "hops=3"`
  * (each arg `key=v1,v2,...`; omitted keys take the operator default;
  * `nBits=auto` uses the operator's corpus-derived sizing).
  */
object RecallGrid {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args(0).startsWith("/")) args(0)
      else s"/root/testdata/${args(0)}"
    val grid = args.drop(1).map { a =>
      val Array(k, vs) = a.split("=", 2)
      k -> vs.split(",").toSeq
    }.toMap
    def vals(k: String, d: String): Seq[String] = grid.getOrElse(k, Seq(d))
    val spark = Harness.session()
    for {
      k <- vals("k", "5")
      rounds <- vals("rounds", "2")
      nBits <- vals("nBits", "auto")
      nTables <- vals("nTables", "8")
      beam <- vals("beam", "64")
      hops <- vals("hops", "3")
    } {
      val t0 = System.nanoTime()
      val bits = if (nBits == "auto") 0 else nBits.toInt
      // `k=auto`: NOTHING hand-tuned — degree, beam, and tables all derive
      // from the measured cluster tightness (annGraphSearchOosAuto's path)
      val df = if (k == "auto")
        operators.Similarity.annGraphRecallAuto(spark, sfDir)
      else operators.Similarity.annGraphRecall(spark, sfDir,
        k = k.toInt, rounds = rounds.toInt,
        beam = beam.toInt, hops = hops.toInt,
        nBits = bits, nTables = nTables.toInt)
      val row = df.agg(avg("recall"), count(lit(1))).collect()(0)
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[recall] k=$k rounds=$rounds nBits=$nBits nTables=$nTables " +
        f"beam=$beam hops=$hops -> mean recall ${row.getDouble(0)}%.4f " +
        f"over ${row.getLong(1)} queries ($dt%.1f s)")
      Hygiene.releaseAll(spark, blocking = true)
    }
    spark.stop()
  }
}
