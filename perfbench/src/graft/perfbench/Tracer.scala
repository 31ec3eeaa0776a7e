package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one (layer call, phase) group, or of the whole traced run. */
final class Counters {
  var jobs, stages, tasks, sourceJobs, materializeJobs = 0L
  var taskCpuNs, taskRunMs, gcMs, shuffleWrite, shuffleRead, fetchWaitMs, spill = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var firstJobMs = Long.MaxValue
  var lastJobMs = Long.MinValue

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "source_jobs" -> sourceJobs, "materialize_jobs" -> materializeJobs,
    "task_cpu_ms" -> taskCpuNs / 1e6, "task_run_ms" -> taskRunMs, "gc_ms" -> gcMs,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "fetch_wait_ms" -> fetchWaitMs, "spill_bytes" -> spill,
    "analysis_ms" -> analysisMs, "optimization_ms" -> optimizationMs,
    "planning_ms" -> planningMs,
    "first_job_ms" -> (if (jobs == 0) null else firstJobMs),
    "last_job_ms" -> (if (jobs == 0) null else lastJobMs))
}

/** One listener for the traced run. Spark jobs are grouped by the
  * `perfbench.call` / `perfbench.phase` local properties the harness sets
  * before each layer call. Spark copies local properties into every job's
  * start event (broadcast, subquery and streaming threads inherit them), so
  * a job is grouped by what submitted it and never by when its events
  * arrive: a late event cannot land in the next call's group. Everything
  * seen while the trace is on is also added to `totals`, so work no group
  * claims shows up as a difference between the groups' sum and the totals.
  *
  * Query-execution events carry no local properties; they go to the phase
  * that is current when they are read, which is exact because the harness
  * drains the bus before it changes the phase.
  *
  * The listener is registered only while the trace is on or tables are
  * being collected, so untraced passes run without it. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  /** Stack frames that mark a job as the `sources` layer's (table resolution). */
  private val sourceFrames = Seq("graft.sources.", "graft.streaming.Events$.readEventStream(")

  @volatile private var on = false
  @volatile private var currentKey: String = null
  @volatile private var collectTables = false
  private var attached = false
  private val groups = new ConcurrentHashMap[String, Counters]()
  private val stageKey = new ConcurrentHashMap[Int, String]()
  val totals = new Counters
  /** Tasks of stages no group claimed while the trace was on. */
  var strays = 0L
  val tablesRead: mutable.Set[String] = mutable.Set.empty

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Turn grouping on or off at a quiet point (the bus is drained first). */
  def setOn(v: Boolean): Unit = { drain(); on = v; attach(on || collectTables) }

  def setCollectTables(v: Boolean): Unit = { drain(); collectTables = v; attach(on || collectTables) }

  private def attach(v: Boolean): Unit = if (v != attached) {
    if (v) { sc.addSparkListener(this); spark.listenerManager.register(this) }
    else { spark.listenerManager.unregister(this); sc.removeSparkListener(this) }
    attached = v
  }

  /** Enter a phase of a layer call: later jobs of this thread carry it. */
  def enter(call: String, phase: String): Unit = {
    drain()
    sc.setLocalProperty("perfbench.call", call)
    sc.setLocalProperty("perfbench.phase", phase)
    currentKey = key(call, phase)
  }

  def leave(): Unit = {
    drain()
    sc.setLocalProperty("perfbench.call", null)
    sc.setLocalProperty("perfbench.phase", null)
    currentKey = null
  }

  def group(call: String, phase: String): Counters = synchronized {
    Option(groups.get(key(call, phase))).getOrElse(new Counters)
  }

  private def key(call: String, phase: String) = s"$call|$phase"

  private def counters(k: String): Counters = groups.computeIfAbsent(k, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (on) {
      val props = Option(e.properties)
      val call = props.flatMap(p => Option(p.getProperty("perfbench.call")))
      val phase = props.flatMap(p => Option(p.getProperty("perfbench.phase")))
      // a stage's details are the long call site of the job that made it
      val site = e.stageInfos.map(_.details).mkString("\n")
      val fromSources = sourceFrames.exists(site.contains)
      val group = (call, phase) match {
        case (Some(c), Some(p)) =>
          val k = key(c, p)
          e.stageInfos.foreach(s => stageKey.put(s.stageId, k))
          Some(counters(k))
        case _ => None
      }
      (totals +: group.toSeq).foreach { g =>
        g.jobs += 1
        if (phase.contains("build") || phase.contains("read")) {
          if (fromSources) g.sourceJobs += 1 else g.materializeJobs += 1
        }
        g.firstJobMs = math.min(g.firstJobMs, e.time)
        g.lastJobMs = math.max(g.lastJobMs, e.time)
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (on) {
      totals.stages += 1
      Option(stageKey.get(e.stageInfo.stageId)).foreach(k => counters(k).stages += 1)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (on) {
      val k = Option(stageKey.get(e.stageId))
      if (k.isEmpty) strays += 1
      (totals +: k.map(counters).toSeq).foreach { g =>
        g.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          g.taskCpuNs += m.executorCpuTime
          g.taskRunMs += m.executorRunTime
          g.gcMs += m.jvmGCTime
          g.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          g.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          g.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          g.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      if (collectTables) tablesRead ++= qe.analyzed.collectLeaves().flatMap {
        case l: LogicalRelation => l.relation match {
          case h: HadoopFsRelation => h.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
          case _ => Nil
        }
        case _ => Nil
      }
      if (on && currentKey != null) {
        val g = counters(currentKey)
        val ph = qe.tracker.phases
        def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
        g.analysisMs += ms("analysis")
        g.optimizationMs += ms("optimization")
        g.planningMs += ms("planning")
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** In-memory spans around each layer call, written out when the run ends.
  * Recorded only while `on` (the traced passes). */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var next = 0
  @volatile var on = false

  def apply[T](name: String, layer: String, parent: Option[Int] = None)(body: Int => T): T =
    if (!on) body(0) else record(name, layer, parent, body)

  private def record[T](name: String, layer: String, parent: Option[Int], body: Int => T): T = {
    val id = synchronized { next += 1; next }
    val t0 = System.nanoTime()
    try body(id)
    finally {
      val t1 = System.nanoTime()
      synchronized {
        buf += Map("id" -> id, "parent" -> parent.map(Int.box).orNull, "name" -> name, "layer" -> layer,
          "start_ns" -> t0, "end_ns" -> t1)
      }
    }
  }

  def all: Seq[Map[String, Any]] = synchronized(buf.toSeq)
}
