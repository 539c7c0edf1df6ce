package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Counters of one call (one key in one pass), filled from listener events.
  * Field names are the per-layer metric names the run record carries.
  */
final class CallCounters {
  val c = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  def add(name: String, v: Double): Unit = synchronized { c(name) = c(name) + v }
  def snapshot: Map[String, Double] = synchronized(c.toMap)
}

/** One SparkListener plus one StreamingQueryListener, registered only in
  * traced runs. Jobs are attributed to the call through the local property
  * [[Trace.CallProp]], which Spark copies into every job's properties and
  * into the threads a call starts (streaming micro-batch threads included).
  * Streaming progress carries no properties, so it is attributed through
  * the query's runId, bound when the query starts: `onQueryStarted` runs
  * synchronously inside `DataStreamWriter.start()` on the calling thread.
  */
final class Trace extends SparkListener {
  private val calls = new ConcurrentHashMap[String, CallCounters]()
  private val stageCall = new ConcurrentHashMap[Int, String]()
  private val runCall = new ConcurrentHashMap[java.util.UUID, String]()
  // last progress per streaming run: state size is a level, not a sum
  private val lastState = new ConcurrentHashMap[java.util.UUID, (Double, Double)]()
  @volatile var current: String = ""

  def counters(call: String): CallCounters =
    calls.computeIfAbsent(call, _ => new CallCounters)

  /** The counters of `call`, with the streaming state levels folded in. */
  def result(call: String): Map[String, Double] = {
    val runs = runCall.asScala.collect { case (id, c) if c == call => id }
    val (rows, mem) = runs.flatMap(id => Option(lastState.get(id)))
      .foldLeft((0.0, 0.0)) { case ((r, m), (r1, m1)) => (r + r1, m + m1) }
    counters(call).snapshot ++ Map("stream.state_rows" -> rows,
      "stream.state_mem_mb" -> mem / 1048576.0)
  }

  private def callOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(Trace.CallProp)))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    callOf(e.properties).foreach(counters(_).add("exec.jobs", 1))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    callOf(e.properties).foreach(stageCall.put(e.stageInfo.stageId, _))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.reason != Success)
      Option(stageCall.get(e.stageId)).foreach(counters(_).add("exec.failed_tasks", 1))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageCall.remove(info.stageId)).foreach { call =>
      val k = counters(call)
      k.add("exec.stages", 1)
      k.add("exec.tasks", info.numTasks)
      Option(info.taskMetrics).foreach { m =>
        k.add("exec.task_run_s", m.executorRunTime / 1e3)
        k.add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        k.add("exec.task_gc_s", m.jvmGCTime / 1e3)
        k.add("exec.scan_mb", m.inputMetrics.bytesRead / 1048576.0)
        k.add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        k.add("exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
        k.add("exec.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
      }
    }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      runCall.put(e.runId, current)

    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      Option(runCall.get(p.runId)).foreach { call =>
        val k = counters(call)
        k.add("stream.batches", 1)
        k.add("stream.input_rows", p.numInputRows.toDouble)
        val d = p.durationMs.asScala
        Seq("triggerExecution" -> "stream.trigger_s", "addBatch" -> "stream.add_batch_s",
          "queryPlanning" -> "stream.query_planning_s", "walCommit" -> "stream.wal_commit_s",
          "commitOffsets" -> "stream.commit_offsets_s", "latestOffset" -> "stream.latest_offset_s")
          .foreach { case (phase, name) => d.get(phase).foreach(ms => k.add(name, ms / 1e3)) }
        val ops = p.stateOperators
        k.add("stream.state_commit_s", ops.map(_.commitTimeMs).sum / 1e3)
        lastState.put(p.runId,
          (ops.map(_.numRowsTotal).sum.toDouble, ops.map(_.memoryUsedBytes).sum.toDouble))
      }
    }

    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}

object Trace {
  val CallProp = "perfbench.call"
}
