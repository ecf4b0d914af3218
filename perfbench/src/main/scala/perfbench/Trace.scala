package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Task-level totals of one job group. */
final class Acc {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var inBytes, inRecords, shRead, shWrite, spill, outBytes = 0L

  def add(o: Acc): Unit = synchronized {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    inBytes += o.inBytes; inRecords += o.inRecords
    shRead += o.shRead; shWrite += o.shWrite; spill += o.spill; outBytes += o.outBytes
  }

  def fields: Seq[(String, Double)] = synchronized(Seq(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
    "task_run_s" -> runMs / 1e3, "cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3,
    "input_bytes" -> inBytes.toDouble, "input_records" -> inRecords.toDouble,
    "shuffle_read_bytes" -> shRead.toDouble, "shuffle_write_bytes" -> shWrite.toDouble,
    "spill_bytes" -> spill.toDouble, "output_bytes" -> outBytes.toDouble))
}

/** Engine counters keyed by job group. The harness names a group
  * `workload/op/phase` before every call it times; AQE's stage threads
  * inherit that local property, so their jobs land in the same group.
  * Streaming micro-batches run under their query's run id as job group but
  * keep the `perfbench.group` property inherited from the call that
  * started the query, which takes precedence.
  */
object EngineListener {
  val GroupProperty = "perfbench.group"
}

final class EngineListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  val groups = new ConcurrentHashMap[String, Acc]()

  private def acc(g: String): Acc = groups.computeIfAbsent(g, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty(EngineListener.GroupProperty)).orElse(Option(p.getProperty("spark.jobGroup.id"))))
      .getOrElse("unattributed")
    e.stageIds.foreach(s => stageGroup.putIfAbsent(s, g))
    val a = acc(g); a.synchronized(a.jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val a = acc(stageGroup.getOrDefault(e.stageInfo.stageId, "unattributed"))
    a.synchronized(a.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageGroup.getOrDefault(e.stageId, "unattributed"))
    val m = e.taskMetrics
    a.synchronized {
      a.tasks += 1
      if (m != null) {
        a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
        a.inBytes += m.inputMetrics.bytesRead; a.inRecords += m.inputMetrics.recordsRead
        a.shRead += m.shuffleReadMetrics.totalBytesRead
        a.shWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Sum of every group whose name starts with one of `prefixes` and
    * with none of `except`. */
  def total(prefixes: Seq[String], except: Seq[String] = Nil): Acc = {
    val out = new Acc
    groups.asScala.foreach { case (g, a) =>
      if (prefixes.exists(g.startsWith) && !except.exists(g.startsWith)) out.add(a) }
    out
  }
}

/** Per-trigger progress of the streaming queries, keyed by run id. */
final class StreamListener extends StreamingQueryListener {
  val progress = new ConcurrentHashMap[String, java.util.List[StreamingQueryListener.QueryProgressEvent]]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.computeIfAbsent(e.progress.runId.toString,
      _ => java.util.Collections.synchronizedList(new java.util.ArrayList())).add(e)

  /** Totals over the triggers of every query seen since the last
    * `progress.clear()`: batches, input rows, per-phase seconds, final
    * state rows, state commit seconds, peak state memory. */
  def summary(): Seq[(String, Double)] = {
    val queries = progress.values.asScala.toList.map(_.asScala.toList.map(_.progress))
    val ps = queries.flatten
    def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1e3
    val state = ps.flatMap(_.stateOperators.toSeq)
    Seq(
      "batches" -> ps.size.toDouble,
      "input_rows" -> ps.map(_.numInputRows).sum.toDouble,
      "trigger_s" -> dur("triggerExecution"),
      "addBatch_s" -> dur("addBatch"),
      "queryPlanning_s" -> dur("queryPlanning"),
      "getBatch_s" -> dur("getBatch"),
      "walCommit_s" -> dur("walCommit"),
      "state_rows" -> queries.flatMap(_.lastOption).map(_.stateOperators.map(_.numRowsTotal).sum).sum.toDouble,
      "state_commit_s" -> state.map(_.commitTimeMs).sum / 1e3,
      "state_memory_bytes" -> (if (state.isEmpty) 0.0 else state.map(_.memoryUsedBytes).max.toDouble))
  }
}

/** One timed call. Times are seconds since the harness started. */
final case class Span(name: String, start: Double, end: Double, parent: String,
    op: Int, workload: String, group: String)

/** Spans held in memory, written when the run ends. */
final class Spans(workload: String, t0: Long) {
  val all = mutable.ArrayBuffer.empty[Span]
  def now: Double = (System.nanoTime() - t0) / 1e9
  def add(name: String, start: Double, end: Double, parent: String, op: Int, group: String): Unit =
    synchronized(all += Span(name, start, end, parent, op, workload, group))
}
