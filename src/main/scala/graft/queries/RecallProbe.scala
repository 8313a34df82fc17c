package graft.queries

/** Recall-decomposition diagnostic (round 12): prints
  * [[VectorOps.recallBands]] — anchored-truth recall of the margin-gated
  * IMI nprobe=2 candidate set, split by truth-pair cosine band and (on
  * synth_scale fixtures) same-copy locality — so the scale trend of the
  * blended ann_recall number can be adjudicated against the band the
  * production consumers (ANN_T=0.999 verification, SemDeDup curation)
  * actually depend on. A measurement main whose numbers land in
  * SCALE.md, not a gate.
  *
  * Usage: `tools/runmain.sh graft.queries.RecallProbe <sfDir> [copySpan] [tau] [nt]`
  * — copySpan 10000000 labels synth_scale copies, 0 disables the split;
  * pass `nt` as the fourth arg to decompose over the NEAR-TWIN corpus
  * ([[VectorOps.ntAugmented]], round 13).
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val s = graft.GraftSession.builder().getOrCreate()
    val dir = args(0)
    val copySpan = if (args.length > 1) args(1).toLong else 0L
    val tau = if (args.length > 2) args(2).toDouble else VectorOps.PROBE_MARGIN_T
    val nt = args.length > 3 && args(3) == "nt"
    val t0 = System.nanoTime()
    val rows = VectorOps.recallBands(s, dir, tau, copySpan, nt).collect()
    var nTrue = 0L; var nFound = 0L
    rows.foreach { r =>
      nTrue += r.getLong(2); nFound += r.getLong(3)
      println(f"[recallprobe] dir=$dir tau=$tau%.2f band=${r.getString(0)}%-15s " +
        f"same_copy=${r.getBoolean(1)}%-5s n_true=${r.getLong(2)}%8d " +
        f"n_found=${r.getLong(3)}%8d recall=${r.getDouble(4)}%.4f")
    }
    println(f"[recallprobe] blended n_true=$nTrue n_found=$nFound " +
      f"recall=${nFound.toDouble / math.max(nTrue, 1L)}%.4f " +
      f"wall=${(System.nanoTime() - t0) / 1e9}%.1f s")
    ScratchCache.drain()
    s.stop()
  }
}
