package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** One completed Spark stage, as the traced run saw it. Times are epoch ms. */
final case class StageRec(
    stageId: Int, jobId: Int, execId: Long, submitMs: Long, completeMs: Long,
    cpuNs: Long, inputRecords: Long, shuffleReadB: Long, shuffleReadRecords: Long,
    shuffleWriteB: Long,
    spillDiskB: Long, outputB: Long, taskMs: Array[Long], buildsCache: Boolean,
    accIds: Set[Long])

/** A span the benchmark opened around one call into the program. */
final case class Span(name: String, startMs: Long, endMs: Long)

/** Per-layer totals over a set of stages. */
final case class LayerStats(wallS: Double, cpuS: Double, shuffleMb: Double,
                            spillMb: Double, taskSkew: Double)

/**
 * The benchmark's own SparkListener. Two jobs:
 *
 *  - always on: the running total of cached RDD block bytes (memory +
 *    disk) of the RDDs an operation creates, so every run can report the
 *    peak Spark storage an operation held without any tracing;
 *  - only while `recording`: completed stages with executor CPU, shuffle,
 *    spill and output bytes and every task's duration, plus job starts
 *    (job -> stages, job -> SQL execution). Spans are opened by the
 *    benchmark around its calls into the program and kept in memory; the
 *    stage records are attributed to layers after the run ends.
 */
final class Tracer(sc: SparkContext) extends SparkListener {
  @volatile var recording = false

  // cached RDD block bytes by (rdd, partition); the running total and its
  // peak count only RDDs created since the last resetCachePeak, so blocks
  // an earlier operation is still releasing do not count
  private val blockBytes = mutable.HashMap.empty[(Int, Int), Long]
  private var minRdd = 0
  private var cachedNow = 0L
  private var cachedPeak = 0L

  private val stageJob = mutable.HashMap.empty[Int, (Int, Long)]
  private val jobStarts = mutable.ArrayBuffer.empty[Long]
  private val taskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val spans = mutable.ArrayBuffer.empty[Span]

  sc.addSparkListener(this)

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { id =>
      val key = (id.rddId, id.splitIndex)
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      if (id.rddId >= minRdd) {
        cachedNow += size - blockBytes.getOrElse(key, 0L)
        cachedPeak = math.max(cachedPeak, cachedNow)
      }
      if (size == 0L) blockBytes.remove(key) else blockBytes(key) = size
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) synchronized {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    e.stageIds.foreach(s => stageJob(s) = (e.jobId, exec))
    jobStarts += e.time
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (recording) synchronized {
    taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty[Long]) += e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (recording) synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    val (job, exec) = stageJob.getOrElse(si.stageId, (-1, -1L))
    stages += StageRec(
      si.stageId, job, exec,
      si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
      if (m == null) 0L else m.executorCpuTime,
      if (m == null) 0L else m.inputMetrics.recordsRead,
      if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
      if (m == null) 0L else m.shuffleReadMetrics.recordsRead,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.diskBytesSpilled,
      if (m == null) 0L else m.outputMetrics.bytesWritten,
      taskMs.remove(si.stageId).map(_.toArray).getOrElse(Array.empty[Long]),
      si.rddInfos.exists(_.storageLevel.isValid),
      si.accumulables.keySet.toSet)
  }

  /** SQL plan nodes by metric accumulator id, from every plan version
    * (initial and adaptive re-plans) of the recorded executions. */
  private val accNode = mutable.HashMap.empty[Long, String]

  private def addPlan(p: SparkPlanInfo): Unit = {
    p.metrics.foreach(m => accNode(m.accumulatorId) = p.nodeName)
    p.children.foreach(addPlan)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = if (recording) e match {
    case s: SparkListenerSQLExecutionStart => synchronized(addPlan(s.sparkPlanInfo))
    case u: SparkListenerSQLAdaptiveExecutionUpdate => synchronized(addPlan(u.sparkPlanInfo))
    case _ =>
  }

  /** Names of the physical operators whose metrics a stage updated. */
  def operators(s: StageRec): Set[String] = synchronized(s.accIds.flatMap(accNode.get))

  /** Block until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.perfbenchbus.Bus.drain(sc)

  /** Start a peak reading that counts RDDs created from now on. */
  def resetCachePeak(): Unit = {
    val next = sc.emptyRDD[Unit].id
    drain()
    synchronized { minRdd = next; cachedNow = 0L; cachedPeak = 0L }
  }
  def cachePeakBytes: Long = { drain(); synchronized(cachedPeak) }

  def span[A](name: String)(f: => A): A = {
    val t0 = System.currentTimeMillis()
    try f finally synchronized { spans += Span(name, t0, System.currentTimeMillis()) }
  }

  def clear(): Unit = { drain(); synchronized {
    stages.clear(); spans.clear(); stageJob.clear(); jobStarts.clear(); taskMs.clear(); accNode.clear()
  } }

  def recordedStages: Seq[StageRec] = { drain(); synchronized(stages.toList) }
  def recordedSpans: Seq[Span] = synchronized(spans.toList)
  def jobsBetween(t0: Long, t1: Long): Int = { drain(); synchronized(jobStarts.count(t => t >= t0 && t <= t1)) }

  /** The span a stage belongs to: the one whose window holds its submission
    * (the loop is closed, so spans never overlap). */
  def spanOf(s: StageRec, within: Seq[Span]): Option[Span] =
    within.find(sp => s.submitMs >= sp.startMs && s.submitMs <= sp.endMs)
}

object Tracer {
  private def mb(b: Long): Double = b / 1048576.0

  private def median(xs: Seq[Long]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2).toDouble
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    }

  /** max/median task time of the layer's heaviest stage (by summed task
    * time): the straggler ratio of the stage that sets the layer's wall. */
  def taskSkew(ss: Seq[StageRec]): Double =
    ss.filter(_.taskMs.nonEmpty).sortBy(s => -s.taskMs.sum).headOption.map { s =>
      val med = median(s.taskMs.toSeq)
      if (med <= 0) s.taskMs.max.toDouble.max(1.0) else s.taskMs.max / med
    }.getOrElse(0.0)

  /** Attribute the window [w0, w1] (epoch ms) to layers. Each elementary
    * interval between stage boundaries is split evenly across the layers
    * with a stage running in it; time with no stage running is returned as
    * the unattributed remainder. The layer walls plus the remainder sum to
    * the window exactly. */
  def attribute(labelled: Seq[(String, StageRec)], w0: Long, w1: Long): (Map[String, Double], Double) = {
    val iv = labelled.map { case (l, s) => (l, math.max(w0, s.submitMs), math.min(w1, s.completeMs)) }
      .filter(t => t._3 > t._2)
    val cuts = (iv.flatMap(t => Seq(t._2, t._3)) ++ Seq(w0, w1)).distinct.sorted
    val wall = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    var idle = 0.0
    cuts.sliding(2).foreach {
      case Seq(a, b) =>
        val active = iv.filter(t => t._2 <= a && t._3 >= b).map(_._1).distinct
        val len = (b - a) / 1000.0
        if (active.isEmpty) idle += len
        else active.foreach(l => wall(l) += len / active.length)
      case _ =>
    }
    (wall.toMap, idle)
  }

  def layerStats(ss: Seq[StageRec], wallS: Double): LayerStats =
    LayerStats(wallS, ss.map(_.cpuNs).sum / 1e9,
      mb(ss.map(s => s.shuffleReadB + s.shuffleWriteB).sum),
      mb(ss.map(_.spillDiskB).sum), taskSkew(ss))

  /** JVM GC time (s) since start, summed over collectors. */
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
