package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanLike, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Nested timing spans. Each span keeps its parent id and its self time
  * (its duration less its children's). A disabled tracer only runs the
  * body. */
final class Tracer(val enabled: Boolean) {
  final class Span(val id: Int, val parent: Int, val name: String, val startNs: Long) {
    var durNs = 0L
    var childNs = 0L
    def selfNs: Long = durNs - childNs
  }

  private val done = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  private var nextId = 0

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(nextId, stack.headOption.map(_.id).getOrElse(-1), name, System.nanoTime())
      nextId += 1
      stack = s :: stack
      try body
      finally {
        s.durNs = System.nanoTime() - s.startNs
        stack = stack.tail
        stack.headOption.foreach(_.childNs += s.durNs)
        done += s
      }
    }

  /** Forget the finished spans (those of the warm-up). */
  def clear(): Unit = done.clear()

  /** Sum of the durations of every span with this name, seconds. */
  def totalS(name: String): Double = done.filter(_.name == name).map(_.durNs).sum / 1e9

  def write(path: java.nio.file.Path): Unit = {
    val lines = done.sortBy(_.id).map { s =>
      Stats.json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startNs / 1e6, "dur_ms" -> s.durNs / 1e6, "self_ms" -> s.selfNs / 1e6))
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    ()
  }
}

/** Cumulative listener counters at one instant. */
final case class Snap(
    jobs: Long, stages: Long, tasks: Long, failedTasks: Long,
    taskRunMs: Long, taskCpuNs: Long,
    shuffleReadB: Long, shuffleWriteB: Long, spillB: Long, outputB: Long,
    batches: Long, addBatchMs: Long, planningMs: Long, walCommitMs: Long,
    commitMs: Long, stateCommitMs: Long, stateRows: Long, stateMemB: Long,
    gcMs: Long) {
  def -(o: Snap): Snap = Snap(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks, failedTasks - o.failedTasks,
    taskRunMs - o.taskRunMs, taskCpuNs - o.taskCpuNs,
    shuffleReadB - o.shuffleReadB, shuffleWriteB - o.shuffleWriteB,
    spillB - o.spillB, outputB - o.outputB,
    batches - o.batches, addBatchMs - o.addBatchMs, planningMs - o.planningMs,
    walCommitMs - o.walCommitMs, commitMs - o.commitMs,
    stateCommitMs - o.stateCommitMs, stateRows - o.stateRows,
    stateMemB - o.stateMemB, gcMs - o.gcMs)
  def +(o: Snap): Snap = Snap(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks, failedTasks + o.failedTasks,
    taskRunMs + o.taskRunMs, taskCpuNs + o.taskCpuNs,
    shuffleReadB + o.shuffleReadB, shuffleWriteB + o.shuffleWriteB,
    spillB + o.spillB, outputB + o.outputB,
    batches + o.batches, addBatchMs + o.addBatchMs, planningMs + o.planningMs,
    walCommitMs + o.walCommitMs, commitMs + o.commitMs,
    stateCommitMs + o.stateCommitMs, stateRows + o.stateRows,
    stateMemB + o.stateMemB, gcMs + o.gcMs)
}

object Snap {
  val zero: Snap = Snap(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
}

/** One `SparkListener` and one `StreamingQueryListener` on the
  * benchmark's own session. Events arrive on the listener bus; [[snap]]
  * drains the bus first, so it sees every event posted before it. */
final class Counters(spark: SparkSession) {
  private var jobs, stages, tasks, failedTasks = 0L
  private var taskRunMs, taskCpuNs, shuffleReadB, shuffleWriteB, spillB, outputB = 0L
  private var batches, addBatchMs, planningMs, walCommitMs, commitMs, stateCommitMs = 0L
  // last progress of each streaming run: (state rows, state memory bytes)
  private val stateByRun = mutable.Map[java.util.UUID, (Long, Long)]()
  private val jobStart = mutable.Map[Int, Long]()
  private val jobSpans = mutable.ArrayBuffer[(Long, Long)]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Counters.this.synchronized {
      jobs += 1; jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Counters.this.synchronized {
      jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Counters.this.synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Counters.this.synchronized {
      tasks += 1
      if (e.reason != Success) failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        taskRunMs += m.executorRunTime
        taskCpuNs += m.executorCpuTime
        shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        outputB += m.outputMetrics.bytesWritten
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Counters.this.synchronized {
        val p = e.progress
        batches += 1
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        addBatchMs += d("addBatch")
        planningMs += d("queryPlanning")
        walCommitMs += d("walCommit")
        commitMs += d("commitOffsets")
        stateCommitMs += p.stateOperators.map(_.commitTimeMs).sum
        stateByRun(p.runId) = (
          p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum)
      }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.streams.addListener(streamListener)

  def snap(): Snap = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      Snap(jobs, stages, tasks, failedTasks, taskRunMs, taskCpuNs,
        shuffleReadB, shuffleWriteB, spillB, outputB,
        batches, addBatchMs, planningMs, walCommitMs, commitMs, stateCommitMs,
        stateByRun.values.map(_._1).sum, stateByRun.values.map(_._2).sum,
        Stats.gcMillis)
    }
  }

  /** Milliseconds of [fromMs, toMs] during which at least one job ran. */
  def busyMs(fromMs: Long, toMs: Long): Long = synchronized {
    val clipped = jobSpans.map { case (s, e) => (s max fromMs, e min toMs) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = curE max e
    }
    total + (curE - curS)
  }
}

/** Figures read off an executed physical plan. */
object PlanFacts {

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Shuffle exchanges in the plan (adaptive stages included). */
  def exchanges(p: SparkPlan): Int = nodes(p).count(_.isInstanceOf[ShuffleExchangeLike])

  /** (files scanned, rows scanned) summed over the plan's file scans. */
  def scanned(p: SparkPlan): (Long, Long) = {
    val scans = nodes(p).collect { case s: FileSourceScanLike => s }
    def metric(s: FileSourceScanLike, k: String): Long = s.metrics.get(k).map(_.value).getOrElse(0L)
    (scans.map(metric(_, "numFiles")).sum, scans.map(metric(_, "numOutputRows")).sum)
  }
}

/** The most heap the JVM held after any garbage collection since it was
  * made: the heap the program keeps. The peak resident set does not
  * show it, because the fixed heap is pre-touched. */
final class HeapWatch {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import scala.jdk.CollectionConverters._
  import com.sun.management.GarbageCollectionNotificationInfo

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val peakB = new java.util.concurrent.atomic.AtomicLong

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peakB.accumulateAndGet(used, (a, b) => a max b)
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def peakMb: Double = peakB.get / 1048576.0
}
