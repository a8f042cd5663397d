package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.json4s.JsonAST.JObject
import org.json4s.JsonDSL._

/** Work one layer of one query run did, as Spark reports it. */
final class LayerCounts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var tasksFailed = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var taskWaitMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var outputRecords = 0L

  def +=(o: LayerCounts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    tasksFailed += o.tasksFailed; taskRunMs += o.taskRunMs
    taskCpuNs += o.taskCpuNs; taskWaitMs += o.taskWaitMs
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes; spillBytes += o.spillBytes
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
    outputRecords += o.outputRecords
  }
}

/** One span of the trace. Times are epoch microseconds; `parent` is 0 for
  * a root span. Spans of one query run share `trace`. */
final case class Span(trace: Long, id: Long, parent: Long, name: String,
    startUs: Long, endUs: Long) {
  def json: JObject =
    ("trace" -> trace) ~ ("id" -> id) ~ ("parent" -> parent) ~ ("name" -> name) ~
      ("start_us" -> startUs) ~ ("end_us" -> endUs)
}

/** Job group the harness sets around each layer call, and its parse. The
  * group names the query run (trace id) and the layer; the span id of the
  * layer's own span rides along so job spans can name their parent. */
object Group {
  private val Prefix = "pb|"
  def apply(trace: Long, layer: String, span: Long): String =
    s"$Prefix$trace|$layer|$span"
  def unapply(g: String): Option[(Long, String, Long)] =
    if (g == null || !g.startsWith(Prefix)) None
    else g.split('|') match {
      case Array(_, t, l, s) => Some((t.toLong, l, s.toLong))
      case _ => None
    }
}

/** SparkListener that attributes jobs, stages and tasks to the (query run,
  * layer) named by the job group, and records job and stage spans. Events
  * arrive on the listener bus thread; readers drain the bus first. */
final class Tracer extends SparkListener {
  private val counts = mutable.HashMap.empty[(Long, String), LayerCounts]
  private val stageKey = mutable.HashMap.empty[Int, (Long, String)]
  private val stageSubmitMs = mutable.HashMap.empty[(Int, Int), Long]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val jobs = mutable.HashMap.empty[Int, (Long, String, Long, Long)]
  private val spans = mutable.ArrayBuffer.empty[Span]

  private def keyOf(props: java.util.Properties): Option[(Long, String, Long)] =
    Option(props).flatMap(p => Group.unapply(p.getProperty("spark.jobGroup.id")))

  private def at(key: (Long, String)): LayerCounts =
    counts.getOrElseUpdate(key, new LayerCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    keyOf(e.properties).foreach { case (trace, layer, span) =>
      at((trace, layer)).jobs += 1
      jobs(e.jobId) = (trace, layer, span, e.time)
      e.stageInfos.foreach(s => stageJob.getOrElseUpdate(s.stageId, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { case (trace, layer, parent, start) =>
      spans += Span(trace, Tracer.jobSpan(e.jobId), parent, s"job:$layer",
        start * 1000, e.time * 1000)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      keyOf(e.properties).foreach { case (trace, layer, _) =>
        val info = e.stageInfo
        at((trace, layer)).stages += 1
        stageKey(info.stageId) = (trace, layer)
        stageSubmitMs((info.stageId, info.attemptNumber())) =
          info.submissionTime.getOrElse(System.currentTimeMillis())
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      for {
        (trace, _) <- stageKey.get(info.stageId)
        submit <- stageSubmitMs.get((info.stageId, info.attemptNumber()))
      } {
        val parent = stageJob.get(info.stageId).map(Tracer.jobSpan).getOrElse(0L)
        spans += Span(trace, Tracer.stageSpan(info.stageId, info.attemptNumber()),
          parent, "stage", submit * 1000,
          info.completionTime.getOrElse(submit) * 1000)
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageKey.get(e.stageId).foreach { key =>
      val c = at(key)
      c.tasks += 1
      if (e.reason != Success) c.tasksFailed += 1
      stageSubmitMs.get((e.stageId, e.stageAttemptId)).foreach { s =>
        c.taskWaitMs += math.max(0L, e.taskInfo.launchTime - s)
      }
      val m = e.taskMetrics
      if (m != null) {
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.outputRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  /** Counts of one layer of one query run (zero if it ran no job). */
  def layer(trace: Long, layer: String): LayerCounts = synchronized {
    counts.getOrElse((trace, layer), new LayerCounts)
  }

  /** Job spans of one query run; each is named `job:<layer>`. */
  def jobSpans(trace: Long): Seq[Span] = synchronized {
    spans.filter(s => s.trace == trace && s.name.startsWith("job:")).toSeq
  }

  def allSpans: Seq[Span] = synchronized(spans.toSeq)
}

object Tracer {
  // Job and stage spans get ids in their own ranges, apart from the
  // harness's query and layer spans (which count up from 1).
  def jobSpan(jobId: Int): Long = (1L << 40) + jobId
  def stageSpan(stageId: Int, attempt: Int): Long =
    (2L << 40) + stageId.toLong * 100 + attempt

  /** Part of [start, end) that the intervals cover, counting overlaps once. */
  def covered(start: Long, end: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
