package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed interval at a layer boundary. Times are `System.nanoTime`;
  * `parent` is the id of the span that caused this one (-1 for an
  * operation's root span), and every span of one operation shares `op`.
  */
final case class Span(id: Int, name: String, op: Int, parent: Int, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spans and layer tags, recorded only from the benchmark's own callbacks
  * and call sites. Disabled, every method is a plain pass-through, so the
  * untraced run pays nothing but a boolean test.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  /** Spans are kept only inside the measured passes. */
  @volatile var active = false

  def record(name: String, op: Int, parent: Int, startNs: Long, endNs: Long): Int =
    if (!enabled || !active) -1
    else spans.synchronized {
      val id = nextId
      nextId += 1
      spans += Span(id, name, op, parent, startNs, endNs)
      id
    }

  /** Run `body` with the jobs it submits tagged by `layer` (a thread-local
    * Spark property the listener reads back).
    */
  def tagged[T](sc: SparkContext, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val prev = sc.getLocalProperty(Tracer.LayerProp)
      sc.setLocalProperty(Tracer.LayerProp, layer)
      try body finally sc.setLocalProperty(Tracer.LayerProp, prev)
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Per-layer self time in seconds: a span's duration minus the part of
    * it that its children cover, summed by span name.
    */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupMapReduce(_.name) { s =>
      val covered = Tracer.unionNs(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      (s.durNs - covered) / 1e9
    }(_ + _)
  }

  def toJson: String = all.map(s =>
    s"""{"id":${s.id},"name":"${s.name}","op":${s.op},"parent":${s.parent},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""").mkString("[\n", ",\n", "\n]")
}

object Tracer {
  val LayerProp = "graftbench.layer"

  /** Total length of a set of intervals, overlaps counted once. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }
}

/** Executor-side counters for the traced run: one [[SparkListener]] for
  * jobs, stages and tasks, one [[QueryExecutionListener]] for Catalyst's
  * phase times. Events count only while `active`; [[drain]] waits for the
  * asynchronous listener bus to catch up before the flag flips.
  */
final class ExecCounters extends SparkListener with QueryExecutionListener {
  @volatile var active = false
  @volatile private var lastEventNs = System.nanoTime()
  private val jobsOpen = mutable.Set.empty[Int]
  private val stageSubmitMs = mutable.Map.empty[(Int, Int), Long]

  val jobsByLayer = mutable.Map.empty[String, Long].withDefaultValue(0L)
  var stages, tasks = 0L
  var taskMs, cpuNs, gcMs, waitMs, shuffleRead, shuffleWrite, spill = 0L
  var peakExecMem = 0L
  var analysisMs, optimizationMs, planningMs = 0L

  private def touch(): Unit = lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    touch()
    jobsOpen += e.jobId
    if (active) {
      val layer = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.LayerProp)))
      jobsByLayer(layer.getOrElse("untagged")) += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { touch(); jobsOpen -= e.jobId }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    touch()
    val si = e.stageInfo
    stageSubmitMs((si.stageId, si.attemptNumber())) = si.submissionTime.getOrElse(System.currentTimeMillis())
    if (active) stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    touch()
    if (active && e.taskInfo != null) {
      tasks += 1
      taskMs += e.taskInfo.duration
      stageSubmitMs.get((e.stageId, e.stageAttemptId)).foreach(s =>
        waitMs += math.max(0L, e.taskInfo.launchTime - s))
      val m = e.taskMetrics
      if (m != null) {
        cpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    touch()
    if (active) {
      val ph = qe.tracker.phases
      analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
      optimizationMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
      planningMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onSuccess(funcName, qe, 0L)

  /** Wait (bounded) until every started job has ended and the bus has been
    * quiet for a moment, so the counters hold every event posted so far.
    */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    def settled = synchronized(jobsOpen.isEmpty) && System.nanoTime() - lastEventNs > 150000000L
    while (!settled && System.nanoTime() < deadline) Thread.sleep(20)
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
}
