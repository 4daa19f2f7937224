package graftbench

import java.time.Instant
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** What the harness sees of Spark from outside the program: jobs,
  * stages and tasks through a SparkListener, micro-batches through a
  * StreamingQueryListener. Task-level records are kept only when
  * tracing; failures are always counted.
  */
final class SparkProbe(traced: Boolean) {
  final case class Job(id: Int, group: String, batchId: Long, callFile: String,
      startMs: Long, var endMs: Long, stageIds: Seq[Int])
  final case class Stage(id: Int, leaf: Boolean, startMs: Long, endMs: Long,
      tasks: Int, cpuNs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long,
      spill: Long)
  final case class Task(stageId: Int, startMs: Long, endMs: Long)
  final case class Progress(queryId: String, batchId: Long, startMs: Long,
      durations: Map[String, Long], rows: Long, stateRows: Long,
      stateMem: Long, stateCommitMs: Long)

  val jobs = mutable.LinkedHashMap[Int, Job]()
  val stages = mutable.LinkedHashMap[Int, Stage]()
  val tasks = mutable.ArrayBuffer[Task]()
  val progress = mutable.ArrayBuffer[Progress]()
  @volatile var taskFailures = 0L
  @volatile var queryFailures = 0L
  val failureNotes = mutable.ArrayBuffer[String]()
  private val stageJob = mutable.Map[Int, Int]()
  private def lock[T](f: => T): T = SparkProbe.this.synchronized(f)

  // the sink side of a foreachBatch and AQE re-plans run as their own
  // jobs; the file of the first non-Spark frame names who asked
  private val CallFile = """ at ([A-Za-z0-9_$]+\.(?:scala|java)):""".r.unanchored

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val name = e.stageInfos.headOption.map(_.name).getOrElse("")
      val file = name match { case CallFile(f) => f; case _ => "" }
      jobs(e.jobId) = Job(e.jobId, prop("spark.jobGroup.id").getOrElse(""),
        prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L), file,
        e.time, -1L, e.stageIds)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock {
      val i = e.stageInfo
      val m = i.taskMetrics
      stages(i.stageId) = Stage(i.stageId, i.parentIds.isEmpty,
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
        i.numTasks,
        if (m == null) 0L else m.executorCpuTime,
        if (m == null) 0L else m.jvmGCTime,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      if (e.reason != Success) lock {
        taskFailures += 1
        failureNotes += s"task failed in stage ${e.stageId}: ${e.reason}"
      }
      if (traced) {
        val t = Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime)
        lock(tasks += t)
      }
    }
  }

  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
      val rec = Progress(p.id.toString, p.batchId,
        Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows, ops.map(_.numRowsTotal).sum,
        ops.map(_.memoryUsedBytes).sum, ops.map(_.commitTimeMs).sum)
      lock(progress += rec)
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      e.exception.foreach { ex =>
        lock {
          queryFailures += 1
          failureNotes += s"query ${e.id} terminated: ${ex.linesIterator.take(3).mkString(" | ")}"
        }
      }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(queryListener)
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(queryListener)
  }

  def jobOfStage(stageId: Int): Option[Job] =
    synchronized(stageJob.get(stageId).flatMap(jobs.get))

  def stagesOf(js: Iterable[Job]): Seq[Stage] = synchronized {
    val ids = js.map(_.id).toSet
    stages.values.filter(s => stageJob.get(s.id).exists(ids)).toSeq
  }

  def progressOf(queryId: String): Seq[Progress] =
    synchronized(progress.filter(_.queryId == queryId).toSeq)

  /** Job → stage → task spans under the parent each job is given. */
  def emitSpans(spans: Spans, parentOf: Job => Long, layerOf: Job => String): Unit =
    synchronized {
      val stageSpan = mutable.Map[Int, Long]()
      jobs.values.filter(_.endMs > 0).foreach { j =>
        val group = if (j.batchId >= 0) j.batchId.toString else j.group
        val js = spans.add(parentOf(j), "spark.job", layerOf(j),
          j.startMs * 1000000L, j.endMs * 1000000L, group)
        j.stageIds.flatMap(stages.get).filter(s => stageJob.get(s.id).contains(j.id))
          .foreach { s =>
            stageSpan(s.id) = spans.add(js, "spark.stage", layerOf(j),
              s.startMs * 1000000L, s.endMs * 1000000L, group)
          }
      }
      tasks.foreach { t =>
        stageSpan.get(t.stageId).foreach { ps =>
          val j = jobOfStage(t.stageId)
          spans.add(ps, "spark.task", j.map(layerOf).getOrElse(""),
            t.startMs * 1000000L, t.endMs * 1000000L,
            j.map(x => if (x.batchId >= 0) x.batchId.toString else x.group).getOrElse(""))
        }
      }
    }
}
