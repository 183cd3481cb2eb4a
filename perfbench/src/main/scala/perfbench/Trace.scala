package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall-clock milliseconds on the epoch scale Spark's listener events use,
  * at nanosecond resolution.
  */
object Clock {
  private val baseNanos = System.nanoTime()
  private val baseMillis = System.currentTimeMillis().toDouble
  def ms(): Double = baseMillis + (System.nanoTime() - baseNanos) / 1e6
}

/** A span: `trace` groups the spans of one operation, `parent` is 0 for a
  * root.
  */
final case class Span(trace: Int, id: Int, parent: Int, name: String,
                      startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** Spans kept in memory and written out when the run ends. */
final class Spans {
  val all = mutable.ArrayBuffer.empty[Span]
  private var next = 1

  def add(trace: Int, parent: Int, name: String, s: Double, e: Double): Int = {
    val id = next
    next += 1
    all += Span(trace, id, parent, name, s, e)
    id
  }

  /** Self time per span name: duration minus the union of the intervals
    * its children cover.
    */
  def selfMs: Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupMapReduce(_.name) { s =>
      s.durMs - Spans.unionMs(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs))).toSeq)
    }(_ + _)
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach { s =>
      w.println(f"""{"trace":${s.trace},"id":${s.id},"parent":${s.parent},""" +
        s""""name":"${s.name}","start_ms":${"%.3f".format(s.startMs)},""" +
        s""""end_ms":${"%.3f".format(s.endMs)}}""")
    } finally w.close()
  }
}

object Spans {
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** What one traced operation cost, per layer. */
final case class OpTrace(shape: String, kind: String, wallMs: Double,
    planMs: Double, jobs: Int, stages: Int, tasks: Int, exchanges: Int,
    shuffleBytes: Long, busyMs: Double, cpuMs: Double, waitMs: Double,
    gcMs: Double, driverMs: Double, inputPartitions: Int,
    plannedContainers: Int, liveContainers: Int, scanRows: Long,
    rowsOut: Long, commitMs: Double, rewritten: Int, pairsOut: Long)

/** Collects Spark's job/stage/task events and executed plans between
  * `reset` and `drain`. One client thread runs one operation at a time, so
  * everything seen in that window belongs to the operation.
  */
final class OpListener extends SparkListener with QueryExecutionListener {
  private final class StageAcc {
    var tasks = 0; var busyMs = 0.0; var cpuMs = 0.0; var waitMs = 0.0
    var gcMs = 0.0; var shuffleBytes = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, (Double, Double)]
  private val stages = mutable.HashMap.empty[Int, StageAcc]
  private val plans = mutable.ArrayBuffer.empty[SparkPlan]

  def reset(): Unit = synchronized { jobs.clear(); stages.clear(); plans.clear() }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = (e.time.toDouble, Double.NaN)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { case (s, _) => jobs(e.jobId) = (s, e.time.toDouble) }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageInfo.stageId, new StageAcc)
    Option(e.stageInfo.taskMetrics).foreach(m =>
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageId, new StageAcc)
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.busyMs += m.executorRunTime
      a.cpuMs += m.executorCpuTime / 1e6
      a.gcMs += m.jvmGCTime
      a.waitMs += math.max(e.taskInfo.duration - m.executorRunTime, 0L) +
        m.shuffleReadMetrics.fetchWaitTime
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { plans += qe.executedPlan }
  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()

  def jobIntervals: Seq[(Double, Double)] = synchronized {
    jobs.values.map { case (s, e) => (s, if (e.isNaN) s else e) }.toSeq
  }
  def stageCount: Int = synchronized(stages.size)
  def sum(f: StageAccView => Double): Double = synchronized {
    stages.values.map(a => f(StageAccView(a.tasks, a.busyMs, a.cpuMs, a.waitMs,
      a.gcMs, a.shuffleBytes))).sum
  }
  def executedPlans: Seq[SparkPlan] = synchronized(plans.toSeq)
}

final case class StageAccView(tasks: Int, busyMs: Double, cpuMs: Double,
                              waitMs: Double, gcMs: Double, shuffleBytes: Long)

object Plans extends AdaptiveSparkPlanHelper {
  def exchanges(p: SparkPlan): Int = collect(p) {
    case e: ShuffleExchangeLike => e
    case e: BroadcastExchangeLike => e
  }.size

  def scans(p: SparkPlan): Seq[BatchScanExec] = collect(p) { case b: BatchScanExec => b }
}

/** The hook an operation calls around its Spark work. Untraced, it does
  * nothing. Traced, it forces and times query planning before the action,
  * and records what the operation returned.
  */
final class Probe {
  var traced = false
  var planSpan: Option[(Double, Double)] = None
  var rowsOut = 0L
  var pairsOut = 0L

  def reset(): Unit = { planSpan = None; rowsOut = 0L; pairsOut = 0L }

  def plan(df: DataFrame): DataFrame = {
    if (traced) {
      val s = Clock.ms()
      df.queryExecution.executedPlan
      val e = Clock.ms()
      planSpan = Some(planSpan.fold((s, e))(p => (p._1, p._2 + (e - s))))
    }
    df
  }
}

/** Runs operations with the listener attached and turns what it saw into
  * an [[OpTrace]] plus spans.
  */
final class Tracer(spark: SparkSession) {
  val listener = new OpListener
  val spans = new Spans
  val traces = mutable.ArrayBuffer.empty[OpTrace]
  private var attached = false
  private var opSeq = 0

  def attach(on: Boolean): Unit = if (on != attached) {
    if (on) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(listener)
    } else {
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(listener)
    }
    attached = on
  }

  private def conf = graft.engine.ContainerIO.confSnapshot(spark)

  private def liveManifests(table: String): Seq[String] =
    try graft.engine.Manifests.readCommitted(graft.engine.ContainerIO.confFrom(conf), table)
      .filter(m => m.rows > 0 && !m.schemaMarker).map(_.name)
    catch { case _: Exception => Nil }

  /** Runs `body` (already wrapped in its timer) as one traced operation. */
  def run[T](shape: String, kind: String, table: Option[String], probe: Probe)(
      body: => (T, Double, Double)): (T, Double, Double) = {
    val before = table.map(liveManifests).getOrElse(Nil)
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    listener.reset()
    probe.reset()
    val (res, s, e) = body
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val after = table.map(liveManifests).getOrElse(Nil)
    opSeq += 1
    val root = spans.add(opSeq, 0, s"op.$shape", s, e)
    probe.planSpan.foreach { case (ps, pe) => spans.add(opSeq, root, "sources.plan", ps, pe) }
    val jobIv = listener.jobIntervals
    jobIv.foreach { case (js, je) => spans.add(opSeq, root, "spark.job", js, je) }
    val lastJobEnd = if (jobIv.isEmpty) s else jobIv.map(_._2).max
    val writes = kind != "read" && kind != "similarity"
    val commitMs = if (writes && jobIv.nonEmpty) math.max(e - lastJobEnd, 0.0) else 0.0
    if (commitMs > 0) spans.add(opSeq, root, "sources.commit", lastJobEnd, e)
    val plans = listener.executedPlans
    val scans = plans.flatMap(Plans.scans)
    val parts = scans.flatMap(_.inputPartitions)
    val planned = parts.collect { case g: graft.sources.GraftInputPartition => g.file }.distinct.size
    val wall = e - s
    traces += OpTrace(shape, kind, wall,
      planMs = probe.planSpan.map(p => p._2 - p._1).getOrElse(0.0),
      jobs = jobIv.size, stages = listener.stageCount,
      tasks = listener.sum(_.tasks).toInt, exchanges = plans.map(Plans.exchanges).sum,
      shuffleBytes = listener.sum(_.shuffleBytes.toDouble).toLong,
      busyMs = listener.sum(_.busyMs), cpuMs = listener.sum(_.cpuMs),
      waitMs = listener.sum(_.waitMs), gcMs = listener.sum(_.gcMs),
      driverMs = wall - Spans.unionMs(jobIv.map { case (js, je) =>
        (math.max(js, s), math.min(je, e)) }),
      inputPartitions = parts.size, plannedContainers = planned,
      liveContainers = if (kind == "read") before.size else 0,
      scanRows = scans.map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum,
      rowsOut = probe.rowsOut, commitMs = commitMs,
      rewritten = before.toSet.diff(after.toSet).size, pairsOut = probe.pairsOut)
    (res, s, e)
  }
}
