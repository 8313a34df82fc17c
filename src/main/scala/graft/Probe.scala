package graft

import scala.collection.mutable

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.graft.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import graft.queries.ScratchCache

/** Cost main: runs each listed declared query once through the `noop`
  * sink and prints its wall and a per-stage table of across-task totals
  * (run/CPU/GC time, fetch wait, shuffle-write time, spill, shuffle bytes
  * and records, input bytes): the table a cluster UI would show, for a
  * session with the UI off. A name listed twice runs twice, cold then
  * warm. Spill and shuffle columns do not depend on the box's speed, so
  * they compare across time windows where walls do not.
  *
  * Usage: `tools/runmain.sh graft.Probe <sfDir> <q1,q2,...>`
  */
object Probe {

  /** Per-task counters summed per stage, in column order. */
  val Counters: Seq[(String, TaskMetrics => Long)] = Seq(
    "run_ms" -> (_.executorRunTime),
    "cpu_ms" -> (_.executorCpuTime / 1000000),
    "gc_ms" -> (_.jvmGCTime),
    "fetch_ms" -> (_.shuffleReadMetrics.fetchWaitTime),
    "shwrite_ms" -> (_.shuffleWriteMetrics.writeTime / 1000000),
    "spill_mem_b" -> (_.memoryBytesSpilled),
    "spill_disk_b" -> (_.diskBytesSpilled),
    "shread_b" -> (_.shuffleReadMetrics.totalBytesRead),
    "shread_rec" -> (_.shuffleReadMetrics.recordsRead),
    "shwrite_b" -> (_.shuffleWriteMetrics.bytesWritten),
    "shwrite_rec" -> (_.shuffleWriteMetrics.recordsWritten),
    "input_b" -> (_.inputMetrics.bytesRead))

  /** One stage's task count and [[Counters]] sums. */
  final case class Stage(id: Int, name: String, tasks: Long, sums: Vector[Long])

  final case class Run(query: String, wallSec: Double, stages: Seq[Stage]) {
    def tasks: Long = stages.map(_.tasks).sum
    /** One counter summed over every stage of the run. */
    def total(counter: String): Long = {
      val i = Counters.indexWhere(_._1 == counter)
      require(i >= 0, s"unknown counter $counter")
      stages.map(_.sums(i)).sum
    }
  }

  private final class StageListener extends SparkListener {
    private val names = mutable.Map[Int, String]()
    // per stage: task count, then the Counters sums
    private val sums = mutable.Map[Int, Array[Long]]()

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized { names(e.stageInfo.stageId) = e.stageInfo.name }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) synchronized {
        val a = sums.getOrElseUpdate(e.stageId, new Array[Long](1 + Counters.size))
        a(0) += 1
        Counters.indices.foreach(i => a(i + 1) += Counters(i)._2(m))
      }
    }

    def stages: Seq[Stage] = synchronized {
      sums.toSeq.sortBy(_._1).map { case (id, a) =>
        Stage(id, names.getOrElse(id, "?"), a(0), a.toVector.tail)
      }
    }
  }

  /** Runs `query` once through the `noop` sink and returns its wall and
    * per-stage counters. The listener bus is drained before the counters
    * are read, so no task-end event still in flight is lost.
    */
  def measure(spark: SparkSession, sfDir: String, query: String): Run = {
    val sc = spark.sparkContext
    // events of earlier work still queued would reach the new listener
    Bus.drain(sc)
    val listener = new StageListener
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      SparkEntry.queries(query)(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Bus.drain(sc)
      Run(query, wall, listener.stages)
    } finally {
      sc.removeSparkListener(listener)
      ScratchCache.drain()
    }
  }

  def render(r: Run, cores: Int): String = {
    def row(label: String, tasks: Long, sums: Seq[Long], name: String): String =
      f"[probe] $label%6s $tasks%6d " + sums.map(v => f"$v%13d").mkString(" ") + s"  $name\n"
    val total = Counters.map(c => r.total(c._1))
    f"[probe] ${r.query} wall=${r.wallSec}%.3f s (across-task sums on $cores cores)\n" +
      f"[probe] ${"stage"}%6s ${"tasks"}%6s " + Counters.map(c => f"${c._1}%13s").mkString(" ") + "  name\n" +
      r.stages.map(s => row(s.id.toString, s.tasks, s.sums, s.name.take(80))).mkString +
      row("TOTAL", r.tasks, total, "")
  }

  def main(args: Array[String]): Unit = {
    val names = args.lift(1).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    if (args.length != 2 || names.isEmpty) {
      System.err.println("usage: graft.Probe <sfDir> <q1,q2,...>")
      sys.exit(2)
    }
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not declared queries: ${unknown.mkString(",")}")
    val cores = GraftSession.cpus()
    val spark = GraftSession.builder(cores).getOrCreate()
    try names.foreach(q => print(render(measure(spark, args(0), q), cores)))
    finally spark.stop()
  }
}
