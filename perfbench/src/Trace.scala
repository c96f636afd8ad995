package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One traced interval. Times are epoch microseconds. `parent` is the
  * span that caused this one (0 for a root) and `req` the request id
  * shared by every span of one benchmark call. */
final case class Span(id: Long, parent: Long, req: Long, name: String, kind: String,
                      start: Long, end: Long, attrs: Map[String, Double])

/** In-memory span store. Benchmark calls open an `op` span; the
  * listener below turns the Spark jobs, stages and tasks of that call
  * into child spans, linked through the job group the call sets. Spans
  * are written out once, when the benchmark ends. */
final class Tracer {
  private val nextId = new AtomicLong(1)
  val spans = new ConcurrentLinkedQueue[Span]()
  def newId(): Long = nextId.getAndIncrement()
  def add(s: Span): Unit = spans.add(s)
}

object Tracer {
  val GroupPrefix = "perfbench-op-"
  def group(spanId: Long): String = s"$GroupPrefix$spanId"
}

/** Attributes every job whose group is a benchmark op span to that
  * span: job → op, stage → job, task → stage. Events from untagged
  * jobs are ignored. Runs on Spark's listener bus thread. */
final class OpListener(tracer: Tracer) extends SparkListener {
  private final case class JobRec(spanId: Long, opId: Long, start: Long)
  private val jobs = mutable.HashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageSpan = mutable.HashMap.empty[(Int, Int), Long]

  private def ms2us(ms: Long): Long = ms * 1000L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.filter(_.startsWith(Tracer.GroupPrefix)).foreach { grp =>
      val opId = grp.stripPrefix(Tracer.GroupPrefix).toLong
      jobs(e.jobId) = JobRec(tracer.newId(), opId, ms2us(e.time))
      e.stageIds.foreach(sid => stageJob.getOrElseUpdate(sid, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      val ok = if (e.jobResult == JobSucceeded) 1.0 else 0.0
      tracer.add(Span(j.spanId, j.opId, j.opId, s"job ${e.jobId}", "job",
        j.start, ms2us(e.time), Map("ok" -> ok)))
    }
  }

  private def stageSpanId(stageId: Int, attempt: Int): Option[(Long, Long)] =
    stageJob.get(stageId).flatMap(jobs.get).map { j =>
      (stageSpan.getOrElseUpdate((stageId, attempt), tracer.newId()), j.opId)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
      val (id, opId) = stageSpanId(si.stageId, si.attemptNumber()).get
      val start = si.submissionTime.map(ms2us).getOrElse(j.start)
      val end = si.completionTime.map(ms2us).getOrElse(start)
      tracer.add(Span(id, j.spanId, opId, s"stage ${si.stageId}", "stage", start, end,
        Map("tasks" -> si.numTasks.toDouble)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpanId(e.stageId, e.stageAttemptId).foreach { case (stageId, opId) =>
      val ti = e.taskInfo
      val m = Option(e.taskMetrics)
      def metric(f: org.apache.spark.executor.TaskMetrics => Long): Double =
        m.map(f).getOrElse(0L).toDouble
      tracer.add(Span(tracer.newId(), stageId, opId, s"task ${ti.taskId}", "task",
        ms2us(ti.launchTime), ms2us(ti.finishTime), Map(
          "ok" -> (if (ti.successful) 1.0 else 0.0),
          "run_s" -> metric(_.executorRunTime) / 1e3,
          "cpu_s" -> metric(_.executorCpuTime) / 1e9,
          "gc_s" -> metric(_.jvmGCTime) / 1e3,
          "shuffle_write_bytes" -> metric(_.shuffleWriteMetrics.bytesWritten),
          "shuffle_read_bytes" -> metric(_.shuffleReadMetrics.totalBytesRead),
          "spill_bytes" -> metric(t => t.memoryBytesSpilled + t.diskBytesSpilled),
          "input_records" -> metric(_.inputMetrics.recordsRead))))
    }
  }

  def spansSnapshot: Seq[Span] = tracer.spans.asScala.toSeq
}
