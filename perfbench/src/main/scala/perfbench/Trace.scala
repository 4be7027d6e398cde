package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed region: `parent` is the id of the enclosing span (0 at the
  * top), `trace` groups the spans of one unit of work.
  */
final case class Span(
    id: Int, parent: Int, trace: String, name: String, layer: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans are kept in memory and written out once
  * when the run ends. While a span is open, Spark jobs submitted from this
  * thread carry its layer in the `perfbench.layer` local property, which
  * [[LayerListener]] uses to attribute task metrics to the layer.
  */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[(Int, String)] // (span id, layer)
  private var nextId = 1
  var trace = ""

  def span[T](name: String, layer: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(0)
    stack = (id, layer) :: stack
    sc.setLocalProperty(Tracer.LayerKey, layer)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      spans += Span(id, parent, trace, name, layer, t0, t1)
      stack = stack.tail
      sc.setLocalProperty(Tracer.LayerKey, stack.headOption.map(_._2).orNull)
    }
  }

  /** Seconds per layer of span self time: a span's duration minus the part
    * covered by its children, summed over the spans of that layer.
    */
  def selfSeconds(among: Iterable[Span] = spans): Map[String, Double] = {
    val childTime = among.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    among.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum
    }
  }

  def toJsonLines: String = spans.sortBy(_.id).map { s =>
    Json.obj("trace" -> s.trace, "span_id" -> s.id, "parent_id" -> s.parent,
      "name" -> s.name, "layer" -> s.layer, "start_ns" -> s.startNs,
      "end_ns" -> s.endNs, "dur_s" -> s.seconds)
  }.mkString("", "\n", "\n")
}

object Tracer { val LayerKey = "perfbench.layer" }

/** Per-layer Spark counters, keyed by the layer of the span that submitted
  * the job (jobs submitted outside any span count under "other").
  */
final class LayerCounters {
  var jobs = 0L
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

final class LayerListener extends SparkListener {
  private val stageLayer = mutable.Map[Int, String]()
  private val byLayer = mutable.Map[String, LayerCounters]()

  private def counters(layer: String) = byLayer.getOrElseUpdate(layer, new LayerCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val layer = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.LayerKey)))
      .getOrElse("other")
    counters(layer).jobs += 1
    e.stageIds.foreach(stageLayer(_) = layer)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageLayer.getOrElse(e.stageId, "other"))
    c.tasks += 1
    if (e.taskInfo != null && e.taskInfo.failed) c.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Counters after every event posted so far has been delivered. */
  def snapshot(sc: SparkContext): Map[String, LayerCounters] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized(byLayer.toMap)
  }
}
