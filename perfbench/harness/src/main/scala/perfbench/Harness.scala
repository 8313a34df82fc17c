package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark process: a closed loop with one client over one workload.
  *
  *   Harness --workload W --data DIR --work DIR --seconds S --trace 0|1
  *
  * Builds a `local[nproc]` session with the settings `graft.Bench` times
  * under (AQE on, UTC, 8 MB splits). Set-up is two untimed passes: the
  * first writes each op's output as `graft.Verify` does (one parquet file
  * per op, plus the ops' oracle SQL) for the DuckDB compare, the second
  * goes through the `noop` sink while the JIT is still compiling hot
  * paths. Then it prints `perfbench ready` and runs timed passes until `S`
  * seconds have gone by (at least `MinPasses`). Each op is one
  * `SparkEntry.queries(name)(spark, DIR)` call materialized through the
  * `noop` sink, and the next call starts when it returns. Per pass it
  * records the wall, the process CPU time and, after a full GC outside the
  * timing, the used heap. The last line of stdout is one JSON object.
  *
  * With `--trace 1` untraced and traced passes alternate; the traced ones
  * give the per-layer counters and the spans (`<work>/spans.json`), the
  * difference of the two medians the tracing overhead.
  */
object Harness {
  val workloads: Map[String, Seq[String]] = Map(
    "mart_build" -> Seq("glamira_pipeline_e2e"),
    "sql_mix" -> Seq("q1_agg", "sess_sessionize", "ingest_drift_repair", "u3_scd2_history",
      "s12_upsert_roundtrip", "dedup_exact", "sim_ann_lsh"),
  )

  /** The layer (module) whose counters an op's work is charged to. */
  val layer: Map[String, String] = Map(
    "glamira_pipeline_e2e" -> Tracer.Glamira,
    "q1_agg" -> "queries.relational",
    "sess_sessionize" -> "streaming",
    "ingest_drift_repair" -> "ingest",
    "u3_scd2_history" -> "operators",
    "s12_upsert_roundtrip" -> "sources",
    "dedup_exact" -> "queries.text",
    "sim_ann_lsh" -> "queries.vector",
  )

  /** The `Glamira.graph` table nodes that `glamira_pipeline_e2e` resolves
    * (`mart_fact_order` and its table dependencies). */
  val glamiraNodes: Set[String] = Set("customer_email_scd", "mart_dim_product", "mart_dim_customer",
    "mart_fact_order")

  val MinPasses = 3

  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "8388608")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // keep little job/stage/SQL history, so the heap after a pass does
      // not grow with the number of passes run before it
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "10")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private val jit = ManagementFactory.getCompilationMXBean
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.toArray
    .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime).sum

  final case class Pass(wallS: Double, cpuS: Double, heapMb: Double, jitS: Double, gcS: Double,
                        failed: Seq[String], traced: Boolean, counters: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val ops = workloads(opt("workload")).map(n => n -> graft.SparkEntry.queries(n))
    val data = opt("data")
    val work = opt("work")
    val spark = session(Runtime.getRuntime.availableProcessors, work)

    def runOp(name: String, fn: (SparkSession, String) => DataFrame): Boolean = {
      val ok = try { fn(spark, data).write.format("noop").mode("overwrite").save(); true }
      catch { case e: Throwable => System.err.println(s"[perfbench] $name failed: $e"); false }
      graft.queries.ScratchCache.drain()
      ok
    }

    // Warm pass, untimed: each op's output is written as graft.Verify
    // writes it (one parquet file per op, plus the ops' oracle SQL) for
    // the DuckDB compare, so the correctness dump costs no extra pass.
    val dump = s"$work/dump"
    val dumpFailed = ops.flatMap { case (name, fn) =>
      val t = System.nanoTime()
      val ok = try { fn(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$dump/$name"); true }
      catch { case e: Throwable => System.err.println(s"[perfbench] $name failed: $e"); false }
      graft.queries.ScratchCache.drain()
      System.err.println(s"[perfbench] warm $name ${(System.nanoTime() - t) / 1e9} s")
      if (ok) None else Some(name)
    }
    val oracle = graft.SparkEntry.oracleSql.filter(e => ops.exists(_._1 == e._1))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dump))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dump/oracle_sql.json"),
      oracle.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}"))

    def pass(id: Int, tracer: Option[Tracer]): Pass = {
      tracer.foreach(_.beginPass(id))
      val cpu0 = os.getProcessCpuTime
      val jit0 = jit.getTotalCompilationTime
      val gc0 = gcMs
      val t0 = System.nanoTime()
      val failed = ops.flatMap { case (name, fn) =>
        val start = Tracer.nowMs()
        val ok = runOp(name, fn)
        tracer.foreach(_.endOp(name, layer(name), start, Tracer.nowMs()))
        if (ok) None else Some(name)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (os.getProcessCpuTime - cpu0) / 1e9
      val jitS = (jit.getTotalCompilationTime - jit0) / 1e3
      val gcS = (gcMs - gc0) / 1e3
      val counters = tracer.fold(Map.empty[String, Double])(_.endPass(wall))
      // Spark's ContextCleaner drops broadcast and shuffle blocks only after
      // a GC has cleared their weak references, on its own thread; give it
      // a moment between two full GCs so the reading does not depend on it
      System.gc(); Thread.sleep(300); System.gc()
      val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      Pass(wall, cpu, heap, jitS, gcS, failed, tracer.nonEmpty, counters)
    }

    // one more untimed pass through the noop sink: the first such pass is
    // still much slower while the JIT compiles the hot paths
    ops.foreach { case (name, fn) => runOp(name, fn) }
    println("perfbench ready")
    Console.out.flush()

    val tracer = if (opt("trace") == "1") Some(new Tracer(spark, glamiraNodes, layer.values.toSet)) else None
    val seconds = opt("seconds").toDouble
    val passes = mutable.ArrayBuffer[Pass]()
    val t0 = System.nanoTime()
    // traced and untraced passes alternate, so drift hits both alike
    val minPasses = if (tracer.nonEmpty) 2 * MinPasses else MinPasses
    while (passes.size < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      val traced = tracer.filter(_ => passes.size % 2 == 1)
      traced.foreach(_.attach())
      passes += pass(passes.size + 1, traced)
      traced.foreach(_.detach())
    }
    tracer.foreach(_.write(s"$work/spans.json"))

    val passJson = passes.map(p =>
      s"""{"wall_s":${p.wallS},"cpu_s":${p.cpuS},"heap_mb":${p.heapMb},"jit_s":${p.jitS},"gc_s":${p.gcS},"traced":${p.traced},""" +
        s""""failed":${Json.strs(p.failed)},"counters":${Json.obj(p.counters)}}""")
    println(s"""{"ops":${Json.strs(ops.map(_._1))},"dump_failed":${Json.strs(dumpFailed)},""" +
      s""""passes":${passJson.mkString("[", ",", "]")}}""")
    spark.stop()
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def strs(xs: Iterable[String]): String = xs.map(str).mkString("[", ",", "]")

  def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
