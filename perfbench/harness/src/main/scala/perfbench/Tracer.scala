package perfbench

import java.time.Instant

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and per-layer counters for traced passes.
  *
  * The span tree is pass → op → SQL execution → job → stage. Pass and op
  * spans come from the harness; SQL executions, jobs and stages from a
  * `SparkListener`; planning time from a `QueryExecutionListener` (the
  * tracker's phases). All spans of one pass carry the pass number as their
  * trace id. Spans stay in memory until `write`.
  *
  * Attribution: after each op the listener bus is drained, so every event
  * seen before the drain belongs to that op. An op's counters go to its
  * layer, except for the ModelGraph op, whose SQL executions are named by
  * the `<workDir>/<node>` path they write and counted as `glamira.<node>`;
  * its other executions (the output read) fall into `harness.remainder_s`.
  */
final class Tracer(spark: SparkSession, nodes: Set[String], layers: Set[String]) {
  import Tracer._

  private case class Job(id: Int, exec: Option[Long], start: Double, stages: Seq[Int])
  private case class Stage(id: Int, start: Double, end: Double, cpuS: Double, gcS: Double,
                           shuffle: Long, spill: Long, output: Long, tasks: Int)

  // events of the op in flight; written on the listener thread, read after a drain
  private val execStart = mutable.Map[Long, Double]()
  private val execEnd = mutable.Map[Long, Double]()
  private val execNode = mutable.Map[Long, String]()
  private val execPlanS = mutable.Map[Long, Double]()
  private val jobs = mutable.ArrayBuffer[Job]()
  private val jobEnd = mutable.Map[Int, Double]()
  private val submitted = mutable.Set[Int]()
  private val stages = mutable.ArrayBuffer[Stage]()

  private val spans = mutable.ArrayBuffer[String]()
  private var nextId = 0L
  private def span(parent: Long, trace: Int, kind: String, name: String, start: Double, end: Double): Long = {
    nextId += 1
    spans += s"""{"id":$nextId,"parent":$parent,"trace":$trace,"kind":"$kind","name":${Json.str(name)},"start_ms":$start,"end_ms":$end}"""
    nextId
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      jobs += Job(e.jobId, exec, e.time.toDouble, e.stageInfos.map(_.stageId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized { jobEnd(e.jobId) = e.time.toDouble }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized { submitted += e.stageInfo.stageId }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      val end = i.completionTime.getOrElse(0L).toDouble
      stages += (if (m == null) Stage(i.stageId, i.submissionTime.fold(end)(_.toDouble), end, 0, 0, 0, 0, 0, i.numTasks)
        else Stage(i.stageId, i.submissionTime.fold(end)(_.toDouble), end, m.executorCpuTime / 1e9,
          m.jvmGCTime / 1e3, m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled,
          m.outputMetrics.bytesWritten, i.numTasks))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = Tracer.this.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          execStart(s.executionId) = s.time.toDouble
          lastStarted = s.executionId
          writtenNode(s.physicalPlanDescription).foreach(execNode(s.executionId) = _)
        case s: SparkListenerSQLExecutionEnd => execEnd(s.executionId) = s.time.toDouble
        case _ =>
      }
    }
  }

  /** The ModelGraph node an execution materializes: the last segment of
    * the path its `InsertIntoHadoopFsRelationCommand` writes. */
  private def writtenNode(plan: String): Option[String] =
    WriteCommand.findAllMatchIn(plan).toSeq.lastOption.map(_.group(1).split('/').last).filter(nodes)

  // A QueryExecution's own id is not its SQL execution id. Executions of
  // one op run one after another, and the listener is called while the
  // bus delivers the execution's end event, so it belongs to the execution
  // that started last.
  private var lastStarted = -1L
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      execPlanS(lastStarted) = execPlanS.getOrElse(lastStarted, 0.0) +
        qe.tracker.phases.values.map(_.durationMs).sum / 1e3
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    clear()
  }

  private def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  private def clear(): Unit = synchronized {
    execStart.clear(); execEnd.clear(); execNode.clear(); execPlanS.clear()
    jobs.clear(); jobEnd.clear(); stages.clear()
  }

  // state of the pass in flight (harness thread only)
  private var trace = 0
  private var passStart = 0.0
  private var passSpan = 0L
  private var counters = mutable.Map[String, Double]()
  private var listedStages = 0
  private var bytesHeld = 0L

  def beginPass(id: Int): Unit = {
    drain(); clear()
    synchronized { submitted.clear() }
    trace = id; passStart = nowMs()
    // every layer reports every counter, zero where the pass never touched it
    counters = mutable.Map((layers - Glamira ++ nodes.map(n => s"$Glamira.$n"))
      .flatMap(l => Counters.map(c => s"$l.$c" -> 0.0)).toSeq: _*)
    listedStages = 0; bytesHeld = 0L
    // the pass span's id is fixed now so op spans can point at it
    nextId += 1; passSpan = nextId
  }

  /** Close the op that ran over [start, end] ms and attribute its events. */
  def endOp(op: String, layer: String, start: Double, end: Double): Unit = {
    drain()
    val opSpan = span(passSpan, trace, "op", op, start, end)
    synchronized {
      val perExec = mutable.Map[Long, Long]()
      def layerOf(exec: Option[Long]): Option[String] =
        if (layer != Glamira) Some(layer) else exec.flatMap(execNode.get).map(n => s"$Glamira.$n")
      for ((id, s) <- execStart.toSeq.sortBy(_._2)) {
        val e = execEnd.getOrElse(id, end)
        perExec(id) = span(opSpan, trace, "sql", execNode.getOrElse(id, s"sql$id"), s, e)
        layerOf(Some(id)).foreach { l =>
          if (layer == Glamira) counters(s"$l.busy_s") += (e - s) / 1e3
          counters(s"$l.planning_s") += execPlanS.getOrElse(id, 0.0)
        }
      }
      if (layer != Glamira) counters(s"$layer.busy_s") += (end - start) / 1e3
      // a stage belongs to the first job that lists it: (job span, SQL execution)
      val stageJob = mutable.Map[Int, (Long, Option[Long])]()
      for (j <- jobs) {
        val jSpan = span(j.exec.flatMap(perExec.get).getOrElse(opSpan), trace, "job", s"job${j.id}",
          j.start, jobEnd.getOrElse(j.id, end))
        listedStages += j.stages.size
        j.stages.foreach(s => if (!stageJob.contains(s)) stageJob(s) = (jSpan, j.exec))
      }
      for (st <- stages) {
        val j = stageJob.get(st.id)
        span(j.fold(opSpan)(_._1), trace, "stage", s"stage${st.id}", st.start, st.end)
        layerOf(j.flatMap(_._2)).foreach { l =>
          counters(s"$l.task_cpu_s") += st.cpuS
          counters(s"$l.gc_s") += st.gcS
          counters(s"$l.shuffle_bytes") += st.shuffle
          counters(s"$l.spill_bytes") += st.spill
          counters(s"$l.output_bytes") += st.output
          counters(s"$l.tasks") += st.tasks
        }
      }
    }
    clear()
    bytesHeld = bytesHeld max spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
  }

  /** Close the pass; returns its counters, with `harness.remainder_s` the
    * part of the pass wall no layer's busy time covers. */
  def endPass(wallS: Double): Map[String, Double] = {
    val end = nowMs()
    spans += s"""{"id":$passSpan,"parent":0,"trace":$trace,"kind":"pass","name":"pass","start_ms":$passStart,"end_ms":$end}"""
    val busy = counters.collect { case (k, v) if k.endsWith(".busy_s") => v }.sum
    val submittedN = synchronized(submitted.size)
    counters("harness.remainder_s") = wallS - busy
    counters("cache.bytes_held") = bytesHeld.toDouble
    counters("cache.skipped_stage_ratio") =
      if (listedStages == 0) 0.0 else (listedStages - submittedN).toDouble / listedStages
    counters.toMap
  }

  def write(path: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), spans.mkString("[\n", ",\n", "\n]\n"))
}

object Tracer {
  val Glamira = "glamira"

  val Counters = Seq("busy_s", "planning_s", "task_cpu_s", "gc_s", "shuffle_bytes", "spill_bytes",
    "output_bytes", "tasks")

  // the write's details block in the formatted plan: its first argument is the path
  private val WriteCommand = """Execute InsertIntoHadoopFsRelationCommand\s*\nInput: [^\n]*\nArguments: ([^,\s]+)""".r

  /** Wall-clock milliseconds with microsecond digits, on the clock Spark's events use. */
  def nowMs(): Double = { val i = Instant.now(); i.getEpochSecond * 1e3 + i.getNano / 1e6 }
}
