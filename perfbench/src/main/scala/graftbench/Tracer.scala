package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One benchmark span: an interval around a call the harness makes into
  * the engine. Spans of one operation share `op`. */
final case class BSpan(id: Int, parent: Int, op: String, name: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Counters the traced run attributes to one Spark job group. */
final class GroupStats {
  var jobs, stages, tasks = 0L
  var deserMs, schedDelayMs, runMs, gcMs, fetchWaitMs = 0L
  var cpuNs, inputBytes, shuffleWrite, shuffleRead, spillBytes = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  def +=(o: GroupStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    deserMs += o.deserMs; schedDelayMs += o.schedDelayMs; runMs += o.runMs
    gcMs += o.gcMs; fetchWaitMs += o.fetchWaitMs; cpuNs += o.cpuNs
    inputBytes += o.inputBytes; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spillBytes += o.spillBytes
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs
    planningMs += o.planningMs
  }
}

/** Records spans in memory and, when tracing, attributes Spark's job,
  * stage and task metrics (from a `SparkListener`) and the planning
  * phases (from each executed query's `QueryPlanningTracker`) to the job
  * group the harness set for the call that caused them. With tracing off
  * it only runs the bodies: no listener, no spans. */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[BSpan]
  val groups = mutable.LinkedHashMap.empty[String, GroupStats]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  @volatile private var currentGroup = "none"
  private var spark: SparkSession = _

  private def stats(g: String): GroupStats = synchronized(groups.getOrElseUpdate(g, new GroupStats))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("none")
      Tracer.this.synchronized {
        stats(g).jobs += 1
        e.stageIds.foreach(stageGroup(_) = g)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        stats(stageGroup.getOrElse(e.stageInfo.stageId, "none")).stages += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      Tracer.this.synchronized {
        val s = stats(stageGroup.getOrElse(e.stageId, "none"))
        val info = e.taskInfo
        s.tasks += 1
        s.deserMs += m.executorDeserializeTime
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.cpuNs += m.executorCpuTime
        s.inputBytes += m.inputMetrics.bytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
        // Scheduler delay as Spark's UI derives it: the part of the
        // task's wall time not spent deserializing, running, serializing
        // the result or shipping it back.
        val wall = info.finishTime - info.launchTime
        val busy = m.executorDeserializeTime + m.executorRunTime +
          m.resultSerializationTime + (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
        s.schedDelayMs += math.max(0L, wall - busy)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).fold(0L)(_.durationMs)
      Tracer.this.synchronized {
        val s = stats(currentGroup)
        s.analysisMs += ms("analysis")
        s.optimizationMs += ms("optimization")
        s.planningMs += ms("planning")
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  def attach(s: SparkSession): Unit = {
    spark = s
    if (enabled) {
      s.sparkContext.addSparkListener(listener)
      s.listenerManager.register(planListener)
    }
  }

  def detach(): Unit = if (enabled && spark != null) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
  }

  /** Time the traced run spent blocked on tracing (draining the bus). */
  var waitNs = 0L

  /** Wait until every queued listener event has been handled. */
  def drain(): Unit = if (enabled) {
    val t0 = System.nanoTime()
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    waitNs += System.nanoTime() - t0
  }

  /** Run `body` under job group `group` (`<op>|<layer>`), recording a
    * span named `name` under `parent` when tracing. Returns the body's
    * value and its duration in seconds. */
  def timed[A](op: String, name: String, parent: Int, group: String)(body: => A): (A, Double, Int) = {
    val sc = spark.sparkContext
    if (enabled) { drain(); currentGroup = group }
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val id = if (enabled) synchronized { spans += BSpan(spans.size, parent, op, name, 0L, 0L); spans.size - 1 }
      else -1
    val t0 = System.nanoTime()
    val out = try body finally sc.clearJobGroup()
    val t1 = System.nanoTime()
    if (enabled) {
      drain()
      spans(id) = BSpan(id, parent, op, name, t0, t1)
    }
    (out, (t1 - t0) / 1e9, id)
  }

  /** A parent span around `body`, which receives the span's id for its
    * children. Sets no job group: only leaf calls run engine code. */
  def outer[A](op: String, name: String, parent: Int)(body: Int => A): (A, Double) = {
    val id = if (enabled) synchronized { spans += BSpan(spans.size, parent, op, name, 0L, 0L); spans.size - 1 }
      else -1
    val t0 = System.nanoTime()
    val out = body(id)
    val t1 = System.nanoTime()
    if (enabled) spans(id) = BSpan(id, parent, op, name, t0, t1)
    (out, (t1 - t0) / 1e9)
  }

  /** Totals over the groups whose layer (the part after `|`) `keep`
    * accepts. Work outside any call ("none": the calibration probes) has
    * no layer. */
  def total(keep: String => Boolean): GroupStats = synchronized {
    val t = new GroupStats
    groups.foreach { case (g, s) => if (keep(g.split('|').last)) t += s }
    t
  }

  /** Jobs launched by one operation's calls. */
  def jobsOf(op: String): Long = synchronized {
    groups.iterator.filter(_._1.startsWith(op + "|")).map(_._2.jobs).sum
  }

  /** Self time of every span: its duration minus the part of it that
    * its children cover, summed by span name. */
  def selfSeconds: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map { s =>
        val covered = kids.getOrElse(s.id, Nil).map(_.seconds).sum
        math.max(0.0, s.seconds - covered)
      }.sum
    }
  }

  def writeSpans(path: String): Unit = {
    val body = spans.map { s =>
      Json.render(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }.mkString("", "\n", "\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body)
  }
}
