package perfbench

import java.lang.management.ManagementFactory
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Peak heap occupancy after GC. Every collection's notification carries
  * the heap pools' usage after it (what `MemoryPoolMXBean.getCollectionUsage`
  * reports for that collection); the peak is the largest sum seen since
  * the last [[reset]]. */
final class HeapPeak {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peak = 0L

  private val listener: NotificationListener = (n, _) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { if (used > peak) peak = used }
    }

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def reset(): Unit = synchronized { peak = 0L }
  def peakMb: Double = peak / (1024.0 * 1024.0)
}

/** Cumulative engine counters at one instant; windows are differences. */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskRunMs: Long = 0, taskCpuNs: Long = 0,
    inputBytes: Long = 0, shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0,
    spillBytes: Long = 0, planMs: Long = 0, gcMs: Long = 0) {
  private def zip(o: Counters, f: (Long, Long) => Long): Counters = Counters(
    f(jobs, o.jobs), f(stages, o.stages), f(tasks, o.tasks),
    f(taskRunMs, o.taskRunMs), f(taskCpuNs, o.taskCpuNs),
    f(inputBytes, o.inputBytes), f(shuffleReadBytes, o.shuffleReadBytes),
    f(shuffleWriteBytes, o.shuffleWriteBytes), f(spillBytes, o.spillBytes),
    f(planMs, o.planMs), f(gcMs, o.gcMs))
  def -(o: Counters): Counters = zip(o, _ - _)
  def +(o: Counters): Counters = zip(o, _ + _)
}

/** One finished SQL execution: its output path when it wrote files. */
final case class Execution(outputPath: Option[String], seconds: Double,
                           files: Long, bytes: Long, rows: Long)

/** One finished stage with its tasks' run times. */
final case class StageDone(shuffleReadBytes: Long, taskRunMs: Seq[Long])

/** The traced run's collector. It only listens: a `SparkListener` for
  * jobs, stages, tasks and cached blocks, a `QueryExecutionListener` for
  * planning phases and file writes, and a `StreamingQueryListener` for
  * micro-batch progress. Events arrive on
  * the listener bus after the action that caused them returns, so every
  * reading first calls [[sync]]. */
final class Collector(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  private var c = Counters()
  private val executions = mutable.ArrayBuffer[Execution]()
  private val stagesDone = mutable.ArrayBuffer[StageDone]()
  private val progress = mutable.ArrayBuffer[StreamingQueryProgress]()
  private val stageTasks = mutable.Map[(Int, Int), mutable.ArrayBuffer[Long]]()
  private val stageShuffleRead = mutable.Map[(Int, Int), Long]().withDefaultValue(0L)
  // RDD blocks currently held, by (rdd, block): bytes in memory or on disk
  private val blocks = mutable.Map[String, Long]()
  private var blockBaseline = Set.empty[String]
  private var cachePeak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c = c.copy(jobs = c.jobs + 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
    c = c.copy(stages = c.stages + 1)
    stagesDone += StageDone(stageShuffleRead(id), stageTasks.getOrElse(id, Nil).toSeq)
    stageTasks -= id
    stageShuffleRead -= id
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val id = (e.stageId, e.stageAttemptId)
      val read = m.shuffleReadMetrics.totalBytesRead
      stageTasks.getOrElseUpdate(id, mutable.ArrayBuffer()) += m.executorRunTime
      stageShuffleRead(id) += read
      c = c.copy(
        tasks = c.tasks + 1,
        taskRunMs = c.taskRunMs + m.executorRunTime,
        taskCpuNs = c.taskCpuNs + m.executorCpuTime,
        inputBytes = c.inputBytes + m.inputMetrics.bytesRead,
        shuffleReadBytes = c.shuffleReadBytes + read,
        shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        spillBytes = c.spillBytes + m.diskBytesSpilled)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val bytes = info.memSize + info.diskSize
      if (bytes > 0) blocks(key) = bytes else blocks -= key
      val held = blocks.iterator.collect { case (k, b) if !blockBaseline(k) => b }.sum
      if (held > cachePeak) cachePeak = held
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Collector.this.synchronized {
        val phases = qe.tracker.phases
        val planMs = Seq("analysis", "optimization", "planning")
          .flatMap(phases.get).map(_.durationMs).sum
        c = c.copy(planMs = c.planMs + planMs)
        val write = findWrite(qe.executedPlan)
        def metric(name: String) =
          write.flatMap(_.cmd.metrics.get(name)).map(_.value).getOrElse(0L)
        val path = write.map(_.cmd).collect {
          case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString
        }
        executions += Execution(path, durationNs / 1e9, metric("numFiles"),
                                metric("numOutputBytes"), metric("numOutputRows"))
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** The file write in a plan; adaptive plans, their query stages and
    * eagerly run commands hold their plans outside the node's children. */
  private def findWrite(plan: SparkPlan): Option[DataWritingCommandExec] = plan match {
    case d: DataWritingCommandExec => Some(d)
    case a: AdaptiveSparkPlanExec => findWrite(a.executedPlan)
    case q: QueryStageExec => findWrite(q.plan)
    case r: CommandResultExec => findWrite(r.commandPhysicalPlan)
    case p => p.children.iterator.map(findWrite).collectFirst { case Some(d) => d }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Collector.this.synchronized { progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def register(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(): Unit = {
    sync()
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Waits until the listener bus has delivered every event posted so far,
    * on every queue. */
  def sync(): Unit = ListenerBus.waitUntilEmpty(sc, 60000L)

  /** The counters now, after draining the bus. */
  def counters(): Counters = {
    sync()
    synchronized {
      c.copy(gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).filter(_ > 0).sum)
    }
  }

  def executionCount: Int = synchronized(executions.size)
  def executionsSince(i: Int): Seq[Execution] = synchronized(executions.drop(i).toSeq)
  def stageCount: Int = synchronized(stagesDone.size)
  def stagesSince(i: Int): Seq[StageDone] = synchronized(stagesDone.drop(i).toSeq)
  def progressCount: Int = synchronized(progress.size)
  def progressSince(i: Int): Seq[StreamingQueryProgress] = synchronized(progress.drop(i).toSeq)

  /** Starts a cached-bytes window: blocks held now do not count. */
  def resetCachePeak(): Unit = synchronized {
    blockBaseline = blocks.keySet.toSet
    cachePeak = 0L
  }
  def cachePeakBytes: Long = { sync(); synchronized(cachePeak) }
}
