package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into a layer. `parent` is 0 for a top-level op. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      startNs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span: the sums of the task metrics of
  * every job submitted while the span was the innermost one, plus the
  * active intervals of its stages (for the driver gap). */
final class SpanWork {
  val jobs, stages, stagesSubmitted, tasks = new AtomicLong
  val runMs, cpuNs, gcMs, shWrite, shRead, fetchWaitMs, spill, result,
      inBytes, inRows, outBytes = new AtomicLong
  val stageIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
}

/** Spans kept in memory for one run, a SparkListener that attributes
  * job, stage and task metrics to the innermost open span through the
  * `perfbench.span` local property, and a StreamingQueryListener for
  * micro-batch progress. Disabled (untraced runs), it does nothing. */
final class Tracer(sc: SparkContext, val runId: String, val enabled: Boolean) {
  import Tracer.Key

  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  val work = new ConcurrentHashMap[Int, SpanWork]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobsOpen = new AtomicLong
  /** Nanoseconds spent inside this tracer's callbacks. */
  val selfNs = new AtomicLong
  val triggerMs = new java.util.concurrent.ConcurrentLinkedQueue[Long]
  val batches, batchRows = new AtomicLong

  private def workOf(id: Int): SpanWork = work.computeIfAbsent(id, _ => new SpanWork)

  private def timedCb(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally selfNs.addAndGet(System.nanoTime() - t0)
  }

  def span[T](name: String)(body: => T): T = if (!enabled) body else {
    val s = Span(spans.size + 1, name, stack.headOption.fold(0)(_.id), runId,
      System.nanoTime())
    spans += s
    stack = s :: stack
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(Key, prev)
    }
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timedCb {
      jobsOpen.incrementAndGet()
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
        .fold(0)(_.toInt)
      val w = workOf(id)
      w.jobs.incrementAndGet()
      w.stages.addAndGet(e.stageInfos.size.toLong)
      e.stageIds.foreach(st => stageSpan.put(st, id))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timedCb {
      jobsOpen.decrementAndGet()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timedCb {
      workOf(stageSpan.getOrDefault(e.stageInfo.stageId, 0))
        .stagesSubmitted.incrementAndGet()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timedCb {
      val i = e.stageInfo
      for (a <- i.submissionTime; b <- i.completionTime)
        workOf(stageSpan.getOrDefault(i.stageId, 0)).stageIntervals.add((a, b))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timedCb {
      val w = workOf(stageSpan.getOrDefault(e.stageId, 0))
      w.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        w.runMs.addAndGet(m.executorRunTime)
        w.cpuNs.addAndGet(m.executorCpuTime)
        w.gcMs.addAndGet(m.jvmGCTime)
        w.result.addAndGet(m.resultSize)
        w.spill.addAndGet(m.diskBytesSpilled)
        w.shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        w.shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        w.fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
        w.inBytes.addAndGet(m.inputMetrics.bytesRead)
        w.inRows.addAndGet(m.inputMetrics.recordsRead)
        w.outBytes.addAndGet(m.outputMetrics.bytesWritten)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timedCb {
      val p = e.progress
      if (p.numInputRows > 0) {
        batches.incrementAndGet()
        batchRows.addAndGet(p.numInputRows)
        Option(p.durationMs.get("triggerExecution")).foreach(ms => triggerMs.add(ms.longValue))
      }
    }
  }

  def attach(spark: org.apache.spark.sql.SparkSession): Unit = if (enabled) {
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  /** Wait (bounded) until the listener bus has delivered every job end,
    * then detach. */
  def detach(spark: org.apache.spark.sql.SparkSession): Unit = if (enabled) {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var quiet = 0
    var last = -1L
    while (quiet < 3 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      val now = work.values.asScala.map(_.tasks.get).sum
      if (jobsOpen.get == 0 && now == last) quiet += 1 else quiet = 0
      last = now
    }
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }

  /** Ids of `root` and all spans below it. */
  def subtree(root: Int): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Set[Int] = kids.getOrElse(id, Nil).flatMap(s => go(s.id)).toSet + id
    go(root)
  }

  /** Seconds of a span not covered by its children. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  /** Summed work over every span. */
  def total(f: SpanWork => Long): Long = work.values.asScala.map(f).sum

  /** Summed wall of the spans with this name. */
  def seconds(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum

  /** Summed work over a set of span ids. */
  def sum(ids: Set[Int])(f: SpanWork => Long): Long =
    ids.toSeq.flatMap(i => Option(work.get(i))).map(f).sum

  /** Span wall minus the union of its subtree's stage-active intervals. */
  def driverGapSeconds(s: Span): Double = {
    val iv = subtree(s.id).toSeq.flatMap(i => Option(work.get(i)))
      .flatMap(_.stageIntervals.asScala).sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0.0, s.seconds - covered / 1e3)
  }

  def spansJson: String = spans.map { s =>
    f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":"${s.runId}",""" +
      f""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfSeconds(s)}%.6f}"""
  }.mkString("[", ",\n", "]")
}

object Tracer {
  val Key = "perfbench.span"
}
