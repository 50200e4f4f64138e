package perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Work counted for one span label (e.g. `q154_pagerank/build`). */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRows = 0L
  var outputBytes = 0L

  def +=(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    cpuNs += o.cpuNs; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes; spillBytes += o.spillBytes
    inputBytes += o.inputBytes; inputRows += o.inputRows; outputBytes += o.outputBytes
  }
}

/** The benchmark's own listener. Every job, stage and task is charged to
  * the span label that the submitting thread carried in the local
  * property [[Meter.SpanKey]]. Read it only after
  * [[org.apache.spark.perfbench.Bus.drain]].
  */
final class Meter extends SparkListener {
  private val stageSpan = mutable.HashMap.empty[Int, String]
  private val spans = mutable.LinkedHashMap.empty[String, Counts]

  private def label(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(Meter.SpanKey))).getOrElse("other")

  private def counts(span: String): Counts = spans.getOrElseUpdate(span, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    counts(label(e.properties)).jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val span = label(e.properties)
    stageSpan(e.stageInfo.stageId) = span
    counts(span).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counts(stageSpan.getOrElse(e.stageId, "other"))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRows += m.inputMetrics.recordsRead
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Sum of the counts of every span whose label satisfies `p`. */
  def sum(p: String => Boolean): Counts = synchronized {
    val total = new Counts
    spans.foreach { case (k, c) => if (p(k)) total += c }
    total
  }
}

object Meter {
  val SpanKey = "perfbench.span"
}
