package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call: `parent` is the span that was open on the calling thread
  * (0 at the root); spans of one job run share `run`.
  */
final case class Span(id: Int, name: String, parent: Int, run: Int, startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. The open span travels with the thread (and into
  * threads it creates, such as the report fan-out's pool) and is published
  * to Spark as a local property, so jobs submitted inside a span can be
  * attributed to it by [[SpanListener]].
  */
final class Tracer(sc: SparkContext) {
  private val ids = new AtomicInteger(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val open = new InheritableThreadLocal[Integer] { override def initialValue(): Integer = 0 }
  @volatile var run: Int = 0

  /** Wall-clock epoch milliseconds of a `System.nanoTime` reading. */
  private val nanoZero = System.nanoTime()
  private val msZero = System.currentTimeMillis()
  def epochMs(ns: Long): Double = msZero + (ns - nanoZero) / 1e6

  def span[T](name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent: Int = open.get
    val prop = sc.getLocalProperty(Tracer.SpanProperty)
    open.set(id)
    sc.setLocalProperty(Tracer.SpanProperty, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      done.add(Span(id, name, parent, run, t0, System.nanoTime()))
      open.set(parent)
      sc.setLocalProperty(Tracer.SpanProperty, prop)
    }
  }

  def spans: Seq[Span] = done.asScala.toSeq
}

object Tracer {
  val SpanProperty = "perfbench.span"

  /** Length of the union of `[start, end)` intervals. */
  def covered(intervals: Seq[(Double, Double)]): Double =
    intervals.filter(i => i._2 > i._1).sortBy(_._1)
      .foldLeft((0.0, Double.NegativeInfinity)) { case ((sum, reach), (s, e)) =>
        if (e <= reach) (sum, reach) else (sum + e - math.max(s, reach), e)
      }._1
}

final case class JobRecord(span: Int, startMs: Long, endMs: Long)

/** Stage totals: `cached` marks a stage whose lineage holds a persisted RDD
  * (it builds or reads the shared denormalized frame).
  */
final case class StageRecord(span: Int, tasks: Int, runMs: Long, inputRecords: Long,
                             shuffleBytes: Long, cached: Boolean)

/** Public-listener counts per span: jobs by the span property of the
  * submitting thread, stages by the job that submitted them.
  */
final class SpanListener extends SparkListener {
  private val started = TrieMap.empty[Int, (Int, Long)]
  private val stageSpan = TrieMap.empty[Int, Int]
  val jobs = new ConcurrentLinkedQueue[JobRecord]()
  val stages = new ConcurrentLinkedQueue[StageRecord]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toInt).getOrElse(0)
    started.put(e.jobId, (span, e.time))
    e.stageIds.foreach(stageSpan.putIfAbsent(_, span))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    started.remove(e.jobId).foreach { case (span, t0) => jobs.add(JobRecord(span, t0, e.time)) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages.add(StageRecord(stageSpan.getOrElse(i.stageId, 0), i.numTasks,
      m.executorRunTime, m.inputMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten,
      i.rddInfos.exists(_.storageLevel.isValid)))
  }
}
