package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory trace: spans recorded by the benchmark around each call into the
  * engine, plus one child span per Spark job and stage, captured by a
  * listener. Jobs are tied to the benchmark span that submitted them through
  * the `perfbench.span` local property. Nothing is written until the run
  * ends. Times are epoch milliseconds (the listener's clock). */
final class Trace(sc: SparkContext) extends SparkListener {
  import Trace._

  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[Int, Stage]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private var nextId = 0L

  /** Runs `body` inside a span; jobs it submits carry the span's id. */
  def span[T](name: String)(body: Long => T): T = {
    val id = begin(name)
    try body(id) finally end(id)
  }

  def begin(name: String): Long = synchronized {
    nextId += 1
    spans += Span(nextId, name, nowMs(), Double.NaN)
    sc.setLocalProperty(SpanKey, nextId.toString)
    nextId
  }

  def end(id: Long): Unit = {
    sc.setLocalProperty(SpanKey, null)
    synchronized { spans.find(_.id == id).foreach(_.endMs = nowMs()) }
  }

  /** Blocks until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListenerBus(sc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = Job(e.jobId, span, e.time.toDouble, Double.NaN, e.stageIds)
    e.stageInfos.foreach { si =>
      stageJob(si.stageId) = e.jobId
      stages.getOrElseUpdate(si.stageId, Stage(si.stageId, e.jobId, si.name))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time.toDouble
      j.failed = e.jobResult != JobSucceeded
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    val st = stages.getOrElseUpdate(si.stageId,
      Stage(si.stageId, stageJob.getOrElse(si.stageId, -1), si.name))
    st.ran = true
    st.site = engineFrames(si.details)
    st.submitMs = si.submissionTime.map(_.toDouble).getOrElse(nowMs())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { st =>
      st.completeMs = e.stageInfo.completionTime.map(_.toDouble).getOrElse(nowMs())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stages.get(e.stageId).foreach { st =>
      val info = e.taskInfo
      st.tasks += 1
      if (m != null) {
        st.runMs += m.executorRunTime
        st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.resultBytes += m.resultSize
        st.inputRecords += m.inputMetrics.recordsRead
        st.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
        st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        st.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        st.taskRunMs += m.executorRunTime.toDouble
        st.taskReadRecords += m.shuffleReadMetrics.recordsRead.toDouble
        st.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      }
      st.firstLaunchMs = math.min(st.firstLaunchMs, info.launchTime.toDouble)
    }
  }

  def jobsOf(spanId: Long): Seq[Job] = synchronized { jobs.values.filter(_.span == spanId).toSeq }
  def stagesOf(job: Job): Seq[Stage] = synchronized {
    job.stageIds.flatMap(stages.get).filter(_.ran).sortBy(_.id)
  }

  /** Spans and job/stage records as JSON lines. */
  def jsonl: Iterator[String] = synchronized {
    spans.iterator.map(s => Json.obj("kind" -> "span", "id" -> s.id, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs)) ++
    jobs.valuesIterator.map(j => Json.obj("kind" -> "job", "id" -> j.id, "span" -> j.span,
      "start_ms" -> j.startMs, "end_ms" -> j.endMs,
      "failed" -> j.failed, "stages" -> j.stageIds)) ++
    stages.valuesIterator.filter(_.ran).map(s => Json.obj("kind" -> "stage", "id" -> s.id,
      "job" -> s.job, "layer" -> layerOf(s.name), "name" -> s.name, "site" -> s.site, "tasks" -> s.tasks,
      "submit_ms" -> s.submitMs, "complete_ms" -> s.completeMs, "run_ms" -> s.runMs,
      "cpu_ms" -> s.cpuNs / 1e6, "gc_ms" -> s.gcMs, "result_bytes" -> s.resultBytes,
      "input_records" -> s.inputRecords, "shuffle_read_records" -> s.shuffleReadRecords,
      "shuffle_read_bytes" -> s.shuffleReadBytes, "shuffle_write_records" -> s.shuffleWriteRecords,
      "shuffle_write_bytes" -> s.shuffleWriteBytes, "scheduler_delay_ms" -> s.schedDelayMs))
  }
}

object Trace {
  val SpanKey = "perfbench.span"

  /** `body` inside a span when tracing, bare otherwise. */
  def around[T](trace: Option[Trace], name: String)(body: => T): T =
    trace.fold(body)(_.span(name)(_ => body))

  def nowMs(): Double = System.currentTimeMillis().toDouble

  final case class Span(id: Long, name: String, startMs: Double, var endMs: Double) {
    def ms: Double = endMs - startMs
  }

  final case class Job(id: Int, span: Long, startMs: Double,
                       var endMs: Double, stageIds: Seq[Int], var failed: Boolean = false) {
    def ms: Double = endMs - startMs
  }

  final case class Stage(id: Int, job: Int, name: String) {
    var ran = false
    /** Engine frames (`graft.*`) of the stage's call-site stack, innermost first. */
    var site: Seq[String] = Nil
    var submitMs = Double.NaN
    var completeMs = Double.NaN
    var firstLaunchMs = Double.MaxValue
    var tasks = 0
    var runMs, cpuNs, gcMs, resultBytes, inputRecords = 0L
    var shuffleReadRecords, shuffleReadBytes, shuffleWriteRecords, shuffleWriteBytes = 0L
    var schedDelayMs = 0L
    val taskRunMs = mutable.ArrayBuffer.empty[Double]
    val taskReadRecords = mutable.ArrayBuffer.empty[Double]
    def ms: Double = completeMs - submitMs
  }

  /** `graft.fast.DeltaEngine.buildShards(DeltaEngine.scala:1310)` →
    * `DeltaEngine.buildShards`, for each engine frame of a call-site stack. */
  def engineFrames(details: String): Seq[String] =
    details.linesIterator.map(_.trim).filter(_.startsWith("graft.")).map { f =>
      val call = f.takeWhile(_ != '(')
      val parts = call.split('.')
      val cls = parts(parts.length - 2).takeWhile(_ != '$')
      cls + "." + parts.last.replaceAll("^\\$anonfun\\$", "").takeWhile(_ != '$')
    }.toSeq

  /** The engine module a stage belongs to: the source file of its call site
    * ("collect at FastBatch.scala:118" → "FastBatch"). */
  def layerOf(stageName: String): String = {
    val at = stageName.lastIndexOf(" at ")
    val file = if (at >= 0) stageName.substring(at + 4) else stageName
    file.takeWhile(_ != '.')
  }
}
