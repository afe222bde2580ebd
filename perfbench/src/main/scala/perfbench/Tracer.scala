package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusShim
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** The traced run's listeners: a `SparkListener` that folds every task
  * into its job's totals, and a `StreamingQueryListener` that keeps every
  * micro-batch's progress. Both live only between [[attach]] and
  * [[detach]]; events are read after the listener bus has drained.
  */
final class Tracer(spark: SparkSession) {
  private final class Job(val id: Int, val start: Long) {
    var end = 0L
    var succeeded = false
    val stages = mutable.Set.empty[Int]
    var tasks, emptyTasks, taskMs, gcMs = 0L
    var shuffleWrite, shuffleRead, diskSpill = 0L
  }

  private val jobsById = mutable.LinkedHashMap.empty[Int, Job]
  private val jobOfStage = mutable.Map.empty[Int, Int]
  private val progressRows = mutable.ArrayBuffer.empty[Map[String, Any]]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobsById(e.jobId) = new Job(e.jobId, e.time)
      e.stageIds.foreach(jobOfStage(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobsById.get(e.jobId).foreach { j =>
        j.end = e.time
        j.succeeded = e.jobResult == JobSucceeded
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for {
        jobId <- jobOfStage.get(e.stageId)
        j <- jobsById.get(jobId)
        m <- Option(e.taskMetrics)
      } {
        j.stages += e.stageId
        j.tasks += 1
        val read = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
        if (read == 0) j.emptyTasks += 1
        j.taskMs += e.taskInfo.duration
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.diskSpill += m.diskBytesSpilled
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
      : Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      progressRows += Tracer.progress(e.progress)
    }
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait for queued events, then unregister both listeners. */
  def detach(): Unit = {
    ListenerBusShim.drain(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  def jobs: Seq[Map[String, Any]] = synchronized {
    jobsById.values.toSeq.map { j =>
      Map("job_id" -> j.id, "start" -> j.start, "end" -> j.end,
        "succeeded" -> j.succeeded, "stages" -> j.stages.size,
        "tasks" -> j.tasks, "empty_tasks" -> j.emptyTasks,
        "task_ms" -> j.taskMs, "gc_ms" -> j.gcMs,
        "shuffle_write_bytes" -> j.shuffleWrite,
        "shuffle_read_bytes" -> j.shuffleRead,
        "disk_spill_bytes" -> j.diskSpill)
    }
  }

  def progress: Seq[Map[String, Any]] = synchronized(progressRows.toSeq)
}

object Tracer {
  /** One micro-batch: its start (epoch ms), row count and the
    * `durationMs` phases Structured Streaming reports. */
  def progress(p: StreamingQueryProgress): Map[String, Any] = Map(
    "query" -> p.name, "batch_id" -> p.batchId,
    "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
    "rows" -> p.numInputRows,
    "duration_ms" -> p.durationMs.asScala.map { case (k, v) =>
      k -> v.longValue }.toMap)
}
