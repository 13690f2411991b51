package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Bytes of RDD blocks (cached and checkpointed data) held in the block
  * manager, from block-update events: the current total and its peak since
  * the last `reset`. Broadcast blocks are left out: Spark's cleaner frees
  * them whenever garbage collection happens to run. Registered in every run,
  * because `storage_peak_mb` is an end-to-end metric; it sees only the
  * (rare) block-update events. */
final class BlockTracker extends SparkListener {
  private val sizes = mutable.HashMap.empty[String, Long]
  private var current = 0L
  private var peak = 0L
  private var stored = 0

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val id = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      if (size > 0 && !sizes.contains(id)) stored += 1
      current += size - sizes.getOrElse(id, 0L)
      if (size > 0) sizes(id) = size else sizes.remove(id)
      peak = math.max(peak, current)
    }
  }

  /** Starts a new window: the peak restarts from what is held now. */
  def reset(): Unit = synchronized { peak = current; stored = 0 }
  def peakBytes: Long = synchronized(peak)
  /** RDD blocks stored since the last reset. */
  def rddBlocksStored: Int = synchronized(stored)
}

/** One timed interval. `layer` is the module the time is charged to;
  * spans of one pass share `pass`. Times are `System.nanoTime`. */
final case class Span(id: Int, parent: Int, pass: Int, layer: String, name: String,
    start: Long, end: Long)

/** In-memory span recorder. `span` always notes the call's duration under
  * its name (two clock reads); it keeps the span itself, with its parent,
  * only when tracing is on. */
final class Tracer(var enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  val durations = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 1
  var pass = 0

  def span[T](layer: String, name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack.push(id)
    val t0 = System.nanoTime()
    try body
    finally {
      stack.pop()
      val t1 = System.nanoTime()
      if (enabled) spans += Span(id, parent, pass, layer, name, t0, t1)
      durations.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (t1 - t0) / 1e9
    }
  }

  def add(s: Span): Unit = { spans += s.copy(id = nextId); nextId += 1 }
  def all: Seq[Span] = spans.toSeq
  def ofPass(p: Int): Seq[Span] = spans.filter(_.pass == p).toSeq
}

object Intervals {
  /** Total length of the union of half-open intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }

  def clip(iv: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1)
}

/** Spark work counted by [[SparkTrace]] since its last reset. */
final case class SparkCounters(
    var actions: Long = 0, var jobs: Long = 0, var stages: Long = 0, var tasks: Long = 0,
    var failedTasks: Long = 0, var planNs: Long = 0, var taskBusyMs: Long = 0,
    var taskCpuNs: Long = 0, var taskWaitMs: Long = 0, var inputBytes: Long = 0,
    var shuffleReadBytes: Long = 0, var shuffleWriteBytes: Long = 0,
    var spillBytes: Long = 0, var peakExecMem: Long = 0)

/** Listener state of the traced run: jobs, stages, tasks and the planning
  * phases of each SQL action. Times of Spark events are wall-clock ms;
  * `toNano` maps them onto the span clock. */
final class SparkTrace extends SparkListener with QueryExecutionListener {
  private val nanoOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def toNano(ms: Long): Long = ms * 1000000L - nanoOffset

  private var c = SparkCounters()
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val stageSubmit = mutable.HashMap.empty[(Int, Int), Long]

  def reset(): Unit = synchronized { c = SparkCounters(); jobIntervals.clear() }
  def snapshot(): (SparkCounters, Seq[(Long, Long)]) = synchronized((c.copy(), jobIntervals.toSeq))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c.jobs += 1
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobIntervals += ((toNano(s), toNano(e.time))))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stageSubmit((i.stageId, i.attemptNumber())) = i.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c.stages += 1
    stageSubmit.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber()))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    c.tasks += 1
    val info = e.taskInfo
    if (!info.successful) c.failedTasks += 1
    c.taskBusyMs += info.duration
    stageSubmit.get((e.stageId, e.stageAttemptId)).foreach(s => c.taskWaitMs += math.max(0L, info.launchTime - s))
    Option(e.taskMetrics).foreach { m =>
      c.taskCpuNs += m.executorCpuTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
    }
  }

  private def planned(qe: QueryExecution): Unit = synchronized {
    c.actions += 1
    val phases = qe.tracker.phases
    c.planNs += Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(p => (p.endTimeMs - p.startTimeMs) * 1000000L).sum
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = planned(qe)
}

/** GC time and retained-heap peak from the JVM's MXBeans. */
object Jvm {
  /** Heap pools other than eden: eden fills to its size between young
    * collections whatever the workload, so its peak says nothing. */
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == java.lang.management.MemoryType.HEAP && !p.getName.contains("Eden"))

  def gcMillis: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Sum of the per-pool peaks since the last reset (an upper bound on the
    * heap's peak, as pools peak at different moments). */
  def heapPeakBytes: Long = heapPools.map(_.getPeakUsage.getUsed).sum
}
