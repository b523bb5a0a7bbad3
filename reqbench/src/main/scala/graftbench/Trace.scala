package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer, made from benchmark code. `span` names the
  * request it belongs to; Spark jobs started on the calling thread while
  * the span is open carry the same id (see [[Trace.around]]).
  */
final case class Span(span: String, layer: String, name: String,
                      startMs: Long, endMs: Long, durNs: Long)

/** Spark work attributed to one span. */
final class SparkCounters {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskCpuNs = 0L
  var schedulerDelayMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Listener that files every job, stage and task under the span id the
  * submitting thread carried in the [[Trace.SpanKey]] local property.
  * Events arrive on Spark's listener thread; read the totals only after
  * the SparkContext has stopped, which drains the event queue.
  */
final class SpanListener extends SparkListener {
  private val bySpan = mutable.HashMap.empty[String, SparkCounters]
  private val stageSpan = mutable.HashMap.empty[Int, String]
  private val jobSpan = mutable.HashMap.empty[Int, (String, Long)]

  private def counters(span: String) = bySpan.getOrElseUpdate(span, new SparkCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanKey)))
      .getOrElse(Trace.Untraced)
    jobSpan(e.jobId) = (span, e.time)
    e.stageIds.foreach(stageSpan(_) = span)
    counters(span).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (span, start) =>
      counters(span).jobIntervals += ((start, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    counters(stageSpan.getOrElse(e.stageInfo.stageId, Trace.Untraced)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageSpan.getOrElse(e.stageId, Trace.Untraced))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskCpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      // Spark UI's definition: task wall time not spent deserializing,
      // running or shipping the result.
      val info = e.taskInfo
      c.schedulerDelayMs += math.max(0L, (info.finishTime - info.launchTime) -
        m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime -
        (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
    }
  }

  def totals: Map[String, SparkCounters] = synchronized(bySpan.toMap)
}

/** In-memory span log for a traced run, written as JSON when it ends. */
final class Trace(sc: SparkContext) {
  val listener = new SpanListener
  sc.addSparkListener(listener)
  private val spans = new ConcurrentLinkedQueue[Span]()

  /** Time `body` as a call into `layer`, tagging the Spark jobs it starts
    * on this thread with `span`.
    */
  def around[T](span: String, layer: String, name: String)(body: => T): T = {
    val prev = sc.getLocalProperty(Trace.SpanKey)
    sc.setLocalProperty(Trace.SpanKey, span)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body finally {
      spans.add(Span(span, layer, name, startMs, System.currentTimeMillis(),
        System.nanoTime() - t0))
      sc.setLocalProperty(Trace.SpanKey, prev)
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq

  def writeJson(path: java.nio.file.Path): Unit = {
    val counters = listener.totals
    val sb = new StringBuilder("{\"spans\":[")
    sb.append(all.sortBy(_.startMs).map { s =>
      f"""{"span":"${s.span}","layer":"${s.layer}","name":"${s.name}",""" +
        f""""start_ms":${s.startMs},"end_ms":${s.endMs},"dur_ms":${s.durNs / 1e6}%.3f}"""
    }.mkString(","))
    sb.append("],\"spark\":{")
    sb.append(counters.toSeq.sortBy(_._1).map { case (span, c) =>
      s""""$span":{"jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
        s""""task_cpu_ns":${c.taskCpuNs},"scheduler_delay_ms":${c.schedulerDelayMs},""" +
        s""""gc_ms":${c.gcMs},"shuffle_write_bytes":${c.shuffleWriteBytes},""" +
        s""""spill_bytes":${c.spillBytes}}"""
    }.mkString(","))
    sb.append("}}\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Trace {
  /** Spark local property carrying the span id of the calling request. */
  val SpanKey = "graftbench.span"
  /** Bucket for jobs started outside any span (setup, the warm pass). */
  val Untraced = "-"

  /** Milliseconds of `[startMs, endMs]` covered by the union of `intervals`. */
  def coveredMs(intervals: Seq[(Long, Long)], startMs: Long, endMs: Long): Long = {
    var covered = 0L
    var reach = startMs
    intervals.map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    covered
  }
}
