package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work launched under one job group. */
final class GroupStats {
  var jobs = 0L
  var stages = 0L
  var singleTaskStages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var busyMs = 0L
  var cpuNs = 0L
  var schedDelayMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  /** (jobId, startMs, endMs) of every finished job. */
  val jobSpans = mutable.ArrayBuffer.empty[(Int, Long, Long)]
}

/** Counts jobs, stages and tasks per job group. The harness gives each phase
  * of each operation its own group on its own thread. Jobs without a group
  * are not counted. */
final class JobListener extends SparkListener {
  private val groups = new ConcurrentHashMap[String, GroupStats]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def stats(g: String): GroupStats = groups.computeIfAbsent(g, _ => new GroupStats)
  def get(g: String): Option[GroupStats] = Option(groups.get(g))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { g =>
      jobGroup.put(e.jobId, g)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(stageGroup.putIfAbsent(_, g))
      val s = stats(g)
      s.synchronized { s.jobs += 1 }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.remove(e.jobId)).foreach { g =>
      val s = stats(g)
      val t0 = Option(jobStart.remove(e.jobId)).map(_.longValue).getOrElse(e.time)
      s.synchronized { s.jobSpans += ((e.jobId, t0, e.time)) }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
      val s = stats(g)
      s.synchronized {
        s.stages += 1
        if (e.stageInfo.numTasks == 1) s.singleTaskStages += 1
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val s = stats(g)
      val m = e.taskMetrics
      s.synchronized {
        s.tasks += 1
        if (e.reason != Success) s.failedTasks += 1
        if (m != null) {
          s.busyMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.inputBytes += m.inputMetrics.bytesRead
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          // the same split the Spark UI uses for "Scheduler Delay"
          val info = e.taskInfo
          val d = info.duration - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - info.gettingResultTime
          s.schedDelayMs += math.max(0L, d)
        }
      }
    }
}

/** Planning spans of the queries the engine ran: for each finished query,
  * its root plan node and the (start ms, end ms) of every phase Spark's own
  * QueryPlanningTracker recorded (analysis, optimization, planning). */
final class PlanListener extends QueryExecutionListener {
  val events = new ConcurrentLinkedQueue[(String, Seq[(Long, Long)])]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    events.add(qe.logical.nodeName ->
      qe.tracker.phases.values.map(p => (p.startTimeMs, p.endTimeMs)).toSeq)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** One timed operation: its wall time, its phases, and whether it succeeded. */
final case class OpRecord(id: Int, name: String, layer: String,
                          startMs: Long, endMs: Long, wallS: Double,
                          phases: Seq[(String, Double)], gcS: Double,
                          ok: Boolean, traced: Boolean, planS: Double = 0.0)

/** Times operations from outside the engine. With tracing on, a listener
  * attributes every Spark job to the operation phase that launched it
  * through a job group set on the calling thread. */
final class Probe(spark: SparkSession, val traced: Boolean) {
  val listener: Option[JobListener] =
    if (traced) { val l = new JobListener; spark.sparkContext.addSparkListener(l); Some(l) }
    else None
  private val plans: Option[PlanListener] =
    if (traced) { val l = new PlanListener; spark.listenerManager.register(l); Some(l) }
    else None
  /** Per-operation switch: the traced run alternates traced and untraced
    * passes to measure the tracing overhead. */
  var tracing: Boolean = traced
  val records = mutable.ArrayBuffer.empty[OpRecord]
  /** Persistent RDDs each operation left behind, read before `settle`
    * releases them. */
  val cachedAfterOp = mutable.ArrayBuffer.empty[Int]
  private var nextId = 0

  private val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcMs: Long = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum

  final class Op(val id: Int) {
    private[Probe] val phases = mutable.ArrayBuffer.empty[(String, Double)]

    def phase[T](name: String)(body: => T): T = {
      val sc = spark.sparkContext
      if (tracing) sc.setJobGroup(Probe.group(id, name), name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        phases += name -> (System.nanoTime() - t0) / 1e9
        if (tracing) sc.clearJobGroup()
      }
    }
  }

  /** Runs `body` as one operation. A throw marks the operation failed and
    * returns None; the run goes on. */
  def op[T](name: String, layer: String)(body: Op => T): Option[T] = {
    val o = new Op(nextId)
    nextId += 1
    plans.foreach(_.events.clear())
    val gc0 = gcMs
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out =
      try Some(body(o))
      catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] op $name failed: $e")
          None
      }
    val wall = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] op $name%s ${wall}%.3f s")
    records += OpRecord(o.id, name, layer, w0, System.currentTimeMillis(), wall,
      o.phases.toSeq, (gcMs - gc0) / 1e3, out.isDefined, tracing)
    out
  }

  /** Runs after every operation, outside its timed window. It keeps the
    * caller's side of the engine's caching contract: operators persist
    * intermediates that their lazy results reference, and the caller
    * releases them with `clearCache` between queries (as Bench and Verify
    * do). The count of persistent RDDs is read first, as the leak witness.
    * In a traced operation whose last phase wrote through the `noop` sink,
    * it also waits for the listener bus and records as `planS` the part of
    * that phase Spark spent in analysis, optimization and planning of the
    * write, from the write's own QueryPlanningTracker. */
  def settle(): Unit = {
    cachedAfterOp += spark.sparkContext.getPersistentRDDs.size
    spark.catalog.clearCache()
    val i = records.size - 1
    if (i >= 0 && records(i).traced && records(i).phases.lastOption.exists(_._1 == "execute")) {
      drain()
      val r = records(i)
      val execStartMs = r.startMs + (r.phases.init.map(_._2).sum * 1e3).toLong
      val writes = plans.toSeq.flatMap(_.events.asScala.filter(e => Probe.isWrite(e._1)))
      writes.lastOption.foreach { case (_, spans) =>
        val planMs = spans.map { case (a, b) => math.max(0L, b - math.max(a, execStartMs)) }.sum
        records(i) = r.copy(planS = planMs / 1e3)
      }
    }
  }

  /** Per-phase Spark counts of each traced operation, read once the
    * listener bus has drained. */
  def phaseStats(r: OpRecord): Seq[(String, GroupStats)] =
    listener.toSeq.flatMap(l => r.phases.flatMap(p => l.get(Probe.group(r.id, p._1)).map(p._1 -> _)))

  def drain(): Unit = if (traced) org.apache.spark.perfbench.BusDrain(spark.sparkContext)
}

object Probe {
  /** Root nodes of a DataFrameWriter v2 write (the `noop` sink is a v2 table). */
  def isWrite(node: String): Boolean =
    Set("AppendData", "OverwriteByExpression", "OverwritePartitionsDynamic")(node)

  def group(opId: Int, phase: String): String = s"perfbench-op$opId/$phase"

  /** Length of the union of [a, b) intervals clipped to [lo, hi), in seconds. */
  def coveredS(spans: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    val clipped = spans.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    covered / 1e3
  }
}
