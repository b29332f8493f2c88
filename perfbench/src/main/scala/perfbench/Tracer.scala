package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** In-memory trace of a traced run: the benchmark's own spans (pass,
  * query or trigger) plus the Spark jobs, stages and tasks a listener sees.
  * Jobs name their parent span through the `perfbench.span` local property
  * the benchmark sets around each query, or through Spark's own
  * `streaming.sql.batchId` for stream triggers. Everything stays in memory
  * and is written out with the run record. */
final class Tracer(sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
  private val jobs = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), mutable.Map[String, Any]]
  private val taskDur = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val taskWait = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val submitted = mutable.Map.empty[(Int, Int), Long]
  private var failedTasks = 0L

  def open(kind: String, name: String, parent: Option[Int],
      startMs: Double = Clock.nowMs()): Int = synchronized {
    spans += mutable.Map("id" -> spans.size, "kind" -> kind, "name" -> name,
      "parent" -> parent, "start_ms" -> startMs, "end_ms" -> None)
    spans.size - 1
  }

  def close(id: Int, endMs: Double = Clock.nowMs()): Unit =
    synchronized { spans(id)("end_ms") = endMs }

  /** Runs `body` under a span that Spark jobs started from this thread
    * attribute themselves to. */
  def within[A](kind: String, name: String, parent: Option[Int])(body: => A): A = {
    val id = open(kind, name, parent)
    sc.setLocalProperty("perfbench.span", id.toString)
    try body
    finally {
      sc.setLocalProperty("perfbench.span", null)
      close(id)
    }
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      jobs(e.jobId) = mutable.Map("id" -> e.jobId, "start_ms" -> e.time,
        "end_ms" -> None, "span" -> prop("perfbench.span").map(_.toInt),
        "batch_id" -> prop("streaming.sql.batchId").map(_.toLong),
        "stage_ids" -> e.stageIds, "ok" -> None)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach { j =>
        j("end_ms") = e.time
        j("ok") = e.jobResult == JobSucceeded
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val si = e.stageInfo
        val key = (si.stageId, si.attemptNumber())
        val m = si.taskMetrics
        val metrics: Map[String, Any] = if (m == null) Map.empty else Map(
          "run_ms" -> m.executorRunTime,
          "cpu_ns" -> m.executorCpuTime,
          "gc_ms" -> m.jvmGCTime,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
          "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
          "spill_disk_bytes" -> m.diskBytesSpilled,
          "spill_mem_bytes" -> m.memoryBytesSpilled,
          "output_bytes" -> m.outputMetrics.bytesWritten)
        stages(key) = mutable.Map("id" -> si.stageId, "attempt" -> si.attemptNumber(),
          "name" -> si.name, "tasks" -> si.numTasks,
          "submit_ms" -> si.submissionTime, "end_ms" -> si.completionTime,
          "task_ms" -> taskDur.remove(key).map(_.toSeq).getOrElse(Nil),
          "task_wait_ms" -> taskWait.remove(key).map(_.toSeq).getOrElse(Nil)) ++ metrics
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
        taskDur.getOrElseUpdate(key, mutable.ArrayBuffer.empty)
        taskWait.getOrElseUpdate(key, mutable.ArrayBuffer.empty)
        e.stageInfo.submissionTime.foreach(t => submitted(key) = t)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val key = (e.stageId, e.stageAttemptId)
      val ti = e.taskInfo
      if (ti.failed || ti.killed) failedTasks += 1
      taskDur.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += ti.duration
      submitted.get(key).foreach(s =>
        taskWait.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += math.max(0L, ti.launchTime - s))
    }
  }

  def start(): Unit = sc.addSparkListener(listener)

  /** Drains the listener bus, then detaches the listener. */
  def stop(): Unit = {
    try org.apache.spark.PerfbenchBus.drain(sc)
    finally sc.removeSparkListener(listener)
  }

  def snapshot: Map[String, Any] = synchronized {
    Map("spans" -> spans.map(_.toMap).toSeq, "jobs" -> jobs.values.map(_.toMap).toSeq,
      "stages" -> stages.values.map(_.toMap).toSeq, "failed_tasks" -> failedTasks)
  }
}
