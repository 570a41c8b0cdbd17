package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer event collector of the traced run.
  *
  * Each event is tagged with the id of the op that is running when it is
  * delivered. Ops run one at a time and the driver drains the listener bus
  * before it moves to the next op, so the tag is the op whose call window
  * contains the event.
  */
final class Trace {
  @volatile var op: Int = -1

  val tasks = ArrayBuffer.empty[Map[String, Any]]
  val jobs = ArrayBuffer.empty[Map[String, Any]]
  val stages = ArrayBuffer.empty[Map[String, Any]]
  val plans = ArrayBuffer.empty[Map[String, Any]]
  val writes = ArrayBuffer.empty[Map[String, Any]]
  val batches = ArrayBuffer.empty[Map[String, Any]]

  val spark: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += Map("op" -> op, "job" -> e.jobId, "stages" -> e.stageIds.size)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        stages += Map("op" -> op, "stage" -> e.stageInfo.stageId,
          "tasks" -> e.stageInfo.numTasks)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val i = e.taskInfo
      val m = Option(e.taskMetrics)
      def mv(f: org.apache.spark.executor.TaskMetrics => Long): Long =
        m.map(f).getOrElse(0L)
      tasks += Map(
        "op" -> op, "launch_ms" -> i.launchTime, "finish_ms" -> i.finishTime,
        "failed" -> i.failed,
        "run_ms" -> mv(_.executorRunTime),
        "cpu_ns" -> mv(_.executorCpuTime),
        "gc_ms" -> mv(_.jvmGCTime),
        "input_rows" -> mv(_.inputMetrics.recordsRead),
        "peak_mem_b" -> mv(_.peakExecutionMemory),
        "shuffle_write_b" -> mv(_.shuffleWriteMetrics.bytesWritten),
        "shuffle_read_b" -> mv(t => t.shuffleReadMetrics.localBytesRead +
          t.shuffleReadMetrics.remoteBytesRead),
        "spill_disk_b" -> mv(_.diskBytesSpilled))
    }
  }

  val queries: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = synchronized {
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      plans += Map("op" -> op, "analysis_ms" -> ms("analysis"),
        "optimization_ms" -> ms("optimization"), "planning_ms" -> ms("planning"))
      // the sink's own cost, from the file-write command's statistics
      // tracker: commit times, bytes and rows written
      Trace.collect(qe.executedPlan) {
        case w: DataWritingCommandExec => w.metrics
      }.foreach { m =>
        def v(k: String): Long = m.get(k).map(_.value).getOrElse(0L)
        writes += Map("op" -> op,
          "commit_ms" -> (v("taskCommitTime") + v("jobCommitTime")),
          "bytes" -> v("numOutputBytes"), "rows" -> v("numOutputRows"))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      def d(k: String): Long =
        Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      batches += Map("op" -> op, "batch_ms" -> p.batchDuration,
        "wal_commit_ms" -> (d("walCommit") + d("commitOffsets")),
        "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum)
    }
  }

  def json: Map[String, Any] = synchronized {
    Map("tasks" -> tasks.toList, "jobs" -> jobs.toList,
      "stages" -> stages.toList, "plans" -> plans.toList,
      "writes" -> writes.toList,
      "batches" -> batches.toList)
  }
}

/** Plan traversal that also descends into adaptive query plans. */
object Trace extends AdaptiveSparkPlanHelper
