package perfbench

import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** Raw events of one run, kept in memory and written as JSON lines when
  * the run ends. All times are epoch milliseconds. The Python side turns
  * them into spans and metrics. */
final class Trace {
  private val lines = mutable.ArrayBuffer.empty[String]
  def add(fields: (String, Any)*): Unit = synchronized {
    lines += Json.obj(fields)
  }
  def write(path: String): Unit = synchronized {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }

  /** Trigger progress: the end-to-end latency of live ops comes from
    * here, so it is registered in untraced runs too. */
  def streams(spark: SparkSession): Unit =
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        val st = p.stateOperators
        add("t" -> "trigger", "run" -> p.runId.toString,
          "batch" -> p.batchId,
          "start" -> Instant.parse(p.timestamp).toEpochMilli,
          "rows" -> p.numInputRows,
          "dur" -> p.durationMs.asScala
            .map { case (k, v) => k -> v.longValue }.toMap,
          "state_rows" -> st.map(_.numRowsTotal).sum,
          "state_bytes" -> st.map(_.memoryUsedBytes).sum,
          "state_commit_ms" -> st.map(_.commitTimeMs).sum,
          "state_removed" -> st.map(_.numRowsRemoved).sum)
      }
    })

  /** Jobs, stages, tasks and Catalyst phases: traced runs only. */
  def jobs(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(new StageTally(this))
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        query(qe, ok = true)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        query(qe, ok = false)
    })
  }

  private object Plans extends AdaptiveSparkPlanHelper
  private def query(qe: QueryExecution, ok: Boolean): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    val nodes = scala.util.Try(Plans.collect(qe.executedPlan) {
      case p => p }.size).getOrElse(0)
    add("t" -> "query", "end" -> System.currentTimeMillis(), "ok" -> ok,
      "analysis" -> ms("analysis"), "optimization" -> ms("optimization"),
      "planning" -> ms("planning"), "nodes" -> nodes)
  }
}

/** Per-job and per-stage-attempt sums of task metrics. */
private final class StageTally(trace: Trace) extends SparkListener {
  private final class Acc {
    var tasks, failed, nonEmpty = 0L
    var cpuNs, schedMs, input, shRead, shWrite, spill = 0L
  }
  private val stages = mutable.Map.empty[(Int, Int), Acc]
  private val jobStart = mutable.Map.empty[Int, (Long, Seq[Int], String)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val site = Option(e.properties)
      .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
    jobStart(e.jobId) = (e.time, e.stageIds, site)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (start, ids, site) =>
      trace.add("t" -> "job", "id" -> e.jobId, "start" -> start,
        "end" -> e.time, "stages" -> ids, "site" -> site,
        "ok" -> (e.jobResult == JobSucceeded))
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), new Acc)
    val i = e.taskInfo
    a.tasks += 1
    if (i.failed || i.killed) a.failed += 1
    Option(e.taskMetrics).foreach { m =>
      val records = m.inputMetrics.recordsRead +
        m.shuffleReadMetrics.recordsRead
      if (records > 0) a.nonEmpty += 1
      a.cpuNs += m.executorCpuTime
      // the web UI's scheduler delay: task wall minus every part the
      // executor accounts for
      a.schedMs += math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        i.gettingResultTime)
      a.input += m.inputMetrics.bytesRead
      a.shRead += m.shuffleReadMetrics.totalBytesRead
      a.shWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val s = e.stageInfo
      val a = stages.remove((s.stageId, s.attemptNumber()))
        .getOrElse(new Acc)
      trace.add("t" -> "stage", "id" -> s.stageId,
        "attempt" -> s.attemptNumber(),
        "start" -> s.submissionTime.getOrElse(0L),
        "end" -> s.completionTime.getOrElse(0L),
        "ok" -> s.failureReason.isEmpty, "tasks" -> a.tasks,
        "failed_tasks" -> a.failed, "nonempty_tasks" -> a.nonEmpty,
        "cpu_ms" -> a.cpuNs / 1e6, "sched_ms" -> a.schedMs,
        "input_bytes" -> a.input, "shuffle_read_bytes" -> a.shRead,
        "shuffle_write_bytes" -> a.shWrite, "spill_bytes" -> a.spill)
    }
}

/** Minimal JSON rendering for the trace's flat records. */
object Json {
  def obj(fields: Iterable[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }
      .mkString("{", ",", "}")
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case xs: Array[_] => value(xs.toSeq)
    case other => str(other.toString)
  }
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
