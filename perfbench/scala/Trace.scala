package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spark listener of the traced run. Every job is tagged with the span
  * that was open on the submitting thread (the `perfbench.span` local
  * property); tasks inherit their stage's span.
  */
final class Trace(sc: SparkContext) extends SparkListener {
  import Trace._

  private val jobSpans = new java.util.concurrent.ConcurrentLinkedQueue[String]
  private val stageSpan = new ConcurrentHashMap[Int, String]
  private val tasksBySpan = new ConcurrentHashMap[String, AtomicLong]
  val shuffleWriteBytes = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).getOrElse("")
    jobSpans.add(span)
    e.stageIds.foreach(stageSpan.putIfAbsent(_, span))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.getOrDefault(e.stageId, "")
    tasksBySpan.computeIfAbsent(span, _ => new AtomicLong).incrementAndGet()
    val m = e.taskMetrics
    if (m != null) shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
  }

  def drain(): Unit = org.apache.spark.PerfShim.drainListenerBus(sc)

  def jobsIn(span: String): Int = jobSpans.asScala.count(_ == span)
  def tasksIn(span: String): Long =
    Option(tasksBySpan.get(span)).map(_.get).getOrElse(0L)

  /** Run `body` with `span` open on this thread. */
  def within[A](span: String)(body: => A): A = {
    sc.setLocalProperty(SpanKey, span)
    try body finally sc.setLocalProperty(SpanKey, null)
  }
}

object Trace {
  val SpanKey = "perfbench.span"

  /** Regular files under `root` with their sizes. */
  def listFiles(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .map((f: Path) => f.toString -> Files.size(f)).toMap
      finally w.close()
    }
  }

  def bytesUnder(root: String): Long = listFiles(root).values.sum

  def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
}

object Stats {
  /** Nearest-rank percentile; NaN for no samples. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }

  /** Nearest-rank percentile of weighted samples (value, weight). */
  def wpct(xs: Seq[(Double, Long)], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sortBy(_._1)
      val total = s.map(_._2).sum
      val target = math.max(1L, math.ceil(q * total).toLong)
      var acc = 0L
      s.find { case (_, w) => acc += w; acc >= target }.get._1
    }
}
