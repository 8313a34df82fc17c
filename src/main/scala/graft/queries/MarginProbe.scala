package graft.queries

import org.apache.spark.sql.functions._

/** Margin-gate calibration diagnostic (round 11): prints the assignment-
  * margin distribution of the shared IMI assignment over a corpus dir,
  * then the [[VectorOps.marginSweep]] — anchored-truth recall and
  * second-probe fraction per candidate τ — so the PROBE_MARGIN_T
  * constant is a measurement, not a guess.
  *
  * Usage: `tools/runmain.sh graft.queries.MarginProbe <sfDir> [tau,tau,...] [nt]`
  * — pass `nt` as the third arg to sweep the NEAR-TWIN corpus
  * ([[VectorOps.ntAugmented]]) instead of the exact-duplicate one; the
  * round-13 τ calibration reads the `b_neartwin` band rows.
  */
object MarginProbe {
  def main(args: Array[String]): Unit = {
    val s = graft.GraftSession.builder().getOrCreate()
    val dir = args(0)
    val taus =
      if (args.length > 1 && args(1).nonEmpty) args(1).split(",").toSeq.map(_.toDouble)
      else Seq(0.005, 0.01, 0.02, 0.05, 0.1, 0.2, 2.0)
    val nt = args.length > 2 && args(2) == "nt"
    VectorOps.register(s)
    val t0 = System.nanoTime()
    val assign = if (nt) VectorOps.sharedImiAssignNt(s, dir)
      else VectorOps.sharedImiAssign(s, dir)
    val dist = assign.filter(col("mgn").isNotNull).agg(
      count(lit(1)).as("n"),
      expr("percentile(mgn, array(0.01, 0.05, 0.1, 0.25, 0.5, 0.75, 0.9))")
        .as("pcts")).collect()(0)
    println(s"[marginprobe] dir=$dir nt=$nt n_with_cell2=${dist.getLong(0)} " +
      s"mgn_pcts(1/5/10/25/50/75/90)=${dist.getSeq[Double](1).map(v => f"$v%.4f").mkString(",")}")
    for ((tau, band, nTrue, found, recall, frac) <-
        VectorOps.marginSweep(s, dir, taus, nt))
      println(f"[marginprobe] tau=$tau%.4f band=$band%-11s n_true=$nTrue%8d " +
        f"n_found=$found%8d recall=$recall%.4f probe_frac=$frac%.4f")
    println(f"[marginprobe] wall=${(System.nanoTime() - t0) / 1e9}%.1f s")
    ScratchCache.drain()
    s.stop()
  }
}
