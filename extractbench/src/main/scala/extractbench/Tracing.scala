package extractbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** One span: what ran, when (System.nanoTime), under which span and trace. */
final case class Span(trace: String, id: Int, parent: Int, name: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory spans, written out once at the end of a traced run. */
final class Tracer {
  private val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var trace = ""
  /** nanoTime minus epoch nanos, to place listener (epoch ms) times. */
  private val epochOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def withTrace[T](id: String)(f: => T): T = {
    val prev = trace
    trace = id
    try f finally trace = prev
  }

  def span[T](name: String)(f: => T): T = {
    val id = spans.length
    spans += Span(trace, id, stack.headOption.getOrElse(-1), name, System.nanoTime(), 0L)
    stack = id :: stack
    try f
    finally {
      stack = stack.tail
      spans(id) = spans(id).copy(endNs = System.nanoTime())
    }
  }

  /** The most recently opened span with this name. */
  def last(name: String): Span = spans.findLast(_.name == name).get

  /** A span time (System.nanoTime) in epoch milliseconds. */
  def epochMs(ns: Long): Long = (ns - epochOffsetNs) / 1000000L

  /** Adds a span timed elsewhere in epoch milliseconds (a Spark stage). */
  def addEpochMs(name: String, parent: Int, startMs: Long, endMs: Long): Unit =
    spans += Span(trace, spans.length, parent, name,
      startMs * 1000000L + epochOffsetNs, endMs * 1000000L + epochOffsetNs)

  /** Span duration minus the part of it its children cover, in ns. */
  def selfNs(s: Span): Long = {
    val kids = spans.iterator.filter(_.parent == s.id)
      .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    s.durNs - covered
  }

  /** Self time in seconds per span name, summed over all traces. */
  def selfSecondsByName: Map[String, Double] =
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(selfNs).sum / 1e9 }

  def json: java.util.List[AnyRef] = {
    val out = new java.util.ArrayList[AnyRef]()
    spans.foreach { s =>
      out.add(Json.obj("trace" -> s.trace, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_ns" -> selfNs(s)))
    }
    out
  }
}

/** Task metrics of one finished stage. */
final case class StageStat(numTasks: Int, submittedMs: Long, completedMs: Long,
                           cpuNs: Long, shuffleWriteBytes: Long, shuffleWriteRecords: Long,
                           shuffleWriteNs: Long, fetchWaitMs: Long, spillBytes: Long,
                           outputBytes: Long, taskMs: Seq[Long])

/** Collects per-stage task metrics of the jobs run while it is attached. */
final class StageListener extends SparkListener {
  private val taskMs = new ConcurrentHashMap[(Int, Int), ConcurrentLinkedQueue[java.lang.Long]]()
  private val done = new ConcurrentLinkedQueue[StageStat]()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null)
      taskMs.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new ConcurrentLinkedQueue())
        .add(e.taskInfo.duration)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val tm = i.taskMetrics
    val tasks = Option(taskMs.remove((i.stageId, i.attemptNumber)))
      .map(_.asScala.map(_.longValue).toSeq).getOrElse(Seq.empty)
    done.add(StageStat(i.numTasks,
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      if (tm == null) 0L else tm.executorCpuTime,
      if (tm == null) 0L else tm.shuffleWriteMetrics.bytesWritten,
      if (tm == null) 0L else tm.shuffleWriteMetrics.recordsWritten,
      if (tm == null) 0L else tm.shuffleWriteMetrics.writeTime,
      if (tm == null) 0L else tm.shuffleReadMetrics.fetchWaitTime,
      if (tm == null) 0L else tm.memoryBytesSpilled + tm.diskBytesSpilled,
      if (tm == null) 0L else tm.outputMetrics.bytesWritten,
      tasks))
  }

  /** Stages finished since the last call, in completion order. */
  def take(): Seq[StageStat] = {
    val out = ArrayBuffer[StageStat]()
    var s = done.poll()
    while (s != null) { out += s; s = done.poll() }
    out.toSeq
  }
}

/** The stages of one `Extract.run`, by role: the stage that writes parquet
  * is the kernel stage; shuffle-writing stages that finish before it are the
  * scan + exchange stages; other stages before it serve resume; stages
  * submitted after it read the written snapshot back. */
final case class StageRoles(all: Seq[StageStat]) {
  val kernel: Seq[StageStat] = all.filter(_.outputBytes > 0)
  private val kernelStart = if (kernel.isEmpty) Long.MaxValue else kernel.map(_.submittedMs).min
  private val kernelEnd = if (kernel.isEmpty) Long.MaxValue else kernel.map(_.completedMs).max
  val readback: Seq[StageStat] = all.filter(s => s.outputBytes == 0 && s.submittedMs >= kernelEnd)
  private val before = all.filter(s => s.outputBytes == 0 && s.completedMs <= kernelStart)
  val scan: Seq[StageStat] = before.filter(_.shuffleWriteBytes > 0)
  val resume: Seq[StageStat] = before.filter(_.shuffleWriteBytes == 0)

  def role(s: StageStat): String =
    if (kernel.contains(s)) "stage.kernel"
    else if (scan.contains(s)) "stage.scan_exchange"
    else if (resume.contains(s)) "stage.resume"
    else if (readback.contains(s)) "stage.readback"
    else "stage.other"
}
