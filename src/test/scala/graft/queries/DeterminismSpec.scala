package graft.queries

import graft.SparkSpec

/** Every query must be deterministic across executions — the driver hashes
  * results, so any run-to-run drift (double-sum ordering, unstable window
  * tie-breaks, RNG) is a correctness failure even when each run "looks
  * right". Approximate (approx_*) queries are exempt from value equality
  * (sketch merge order is implementation-defined) but must keep stable
  * shape, and their accuracy is asserted against the exact answers.
  */
class DeterminismSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import spark.implicits._

  // default smoke scale; set GRAFT_DETERMINISM_SF=/root/testdata/sf0.01 for
  // the deeper (slower) sweep — scale-dependent nondeterminism exists (the
  // text_quality rounding tie only appeared at sf0.1)
  private val dir = sys.env.getOrElse("GRAFT_DETERMINISM_SF", "/root/testdata/sf0.001")

  test("all queries produce identical results on re-execution") {
    val failures = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val a = fn(spark, dir).collect().map(_.toString).sorted.toSeq
      val b = fn(spark, dir).collect().map(_.toString).sorted.toSeq
      if (name.startsWith("approx_")) {
        if (a.length == b.length) None else Some(s"$name: row count drift ${a.length} vs ${b.length}")
      } else if (a == b) None
      else Some(s"$name: ${a.zip(b).count { case (x, y) => x != y }} differing rows")
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }

  test("HLL distinct within 5% of exact; approx percentiles bracket the median") {
    // The queries now carry their own tolerance contract columns: the HLL
    // estimate vs the exact distinct count, and each sketch quantile vs the
    // exact interpolated quantile. All booleans must hold.
    val hll = Approx.queries("approx_distinct_hll")(spark, dir).collect()
    assert(hll.nonEmpty)
    hll.foreach { r =>
      assert(r.getAs[Boolean]("hll_within_5pct"), s"HLL out of tolerance: $r")
    }

    val pct = Approx.queries("approx_percentiles")(spark, dir).collect()
    assert(pct.nonEmpty)
    pct.foreach { r =>
      val (p50, p95, p99) =
        (r.getAs[Double]("p50"), r.getAs[Double]("p95"), r.getAs[Double]("p99"))
      assert(p50 <= p95 && p95 <= p99, s"quantiles out of order: $r")
      assert(r.getAs[Boolean]("approx_within_1pct"), s"sketch out of tolerance: $r")
    }
  }

  test("Probe: cold and warm q1_agg runs report equal shuffle-write bytes and records") {
    // the oracle tier (TESTDATA.md) beside the smoke tier this suite reads
    val sf001 = java.nio.file.Paths.get(dir).resolveSibling("sf0.01").toString
    // a slow listener ahead of Probe's on the bus delays every task-end
    // event, so counters read before the bus drains would come back short
    val slow = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Thread.sleep(50)
    }
    spark.sparkContext.addSparkListener(slow)
    val Seq(cold, warm) =
      try Seq.fill(2)(graft.Probe.measure(spark, sf001, "q1_agg"))
      finally spark.sparkContext.removeSparkListener(slow)
    assert(cold.tasks > 0 && warm.tasks > 0)
    for (c <- Seq("shwrite_b", "shwrite_rec")) {
      assert(cold.total(c) > 0, c)
      assert(cold.total(c) === warm.total(c), c)
    }
    // the last stage reads back every shuffle byte and its task-end events
    // come last, so a read that misses them shows here
    for (r <- Seq(cold, warm)) {
      assert(r.total("shread_b") === r.total("shwrite_b"))
      assert(r.total("shread_rec") === r.total("shwrite_rec"))
    }
  }
}
