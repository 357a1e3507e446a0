package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SortExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Spark counters of one job group. Each traced span runs under its own job
  * group, so everything Spark did inside the span lands here.
  */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var cpuNs, gcMs, fetchWaitMs, shuffleWriteBytes, spillBytes = 0L
  var executions = 0L
  var planMs = 0.0
  var sortMs, exchanges, joinRows = 0L
  /** stage id -> (task durations in ms, whether the stage read a shuffle) */
  val stageTasks = mutable.Map.empty[Int, (mutable.ArrayBuffer[Long], Boolean)]

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    fetchWaitMs += o.fetchWaitMs; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; executions += o.executions; planMs += o.planMs
    sortMs += o.sortMs; exchanges += o.exchanges; joinRows += o.joinRows
    o.stageTasks.foreach { case (k, v) => stageTasks(k) = v }
  }

  /** Slowest over median task time of the busiest stage that reads a
    * shuffle, i.e. the stage after an exchange. 1.0 when there is none.
    */
  def taskSkew: Double = {
    val reading = stageTasks.values.filter(_._2).map(_._1).filter(_.nonEmpty)
    if (reading.isEmpty) 1.0
    else {
      val d = reading.maxBy(_.sum).sorted
      val med = Stats.median(d.map(_.toDouble).toSeq)
      d.last / math.max(med, 1.0)
    }
  }
}

/** Collects per-job-group counters: jobs, stages and tasks from the
  * scheduler's events, and from each finished SQL execution its planning
  * time (the sum of the QueryPlanningTracker phases) and the operators of
  * its final, post-AQE plan.
  */
final class Listener extends SparkListener {
  private val byGroup = mutable.Map.empty[String, Counters]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val execGroup = mutable.Map.empty[Long, String]

  private def c(g: String): Counters = byGroup.getOrElseUpdate(g, new Counters)

  def counters(group: String): Counters = synchronized {
    val out = new Counters
    byGroup.get(group).foreach(out += _)
    out
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        c(g).jobs += 1
        e.stageIds.foreach(s => stageGroup.getOrElseUpdate(s, g))
      }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(g => c(g).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val k = c(g)
      k.tasks += 1
      if (e.reason != Success) k.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        k.cpuNs += m.executorCpuTime
        k.gcMs += m.jvmGCTime
        k.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        k.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        k.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        val reads = m.shuffleReadMetrics.recordsRead > 0
        val (ds, r) = k.stageTasks.getOrElse(e.stageId, (mutable.ArrayBuffer.empty[Long], false))
        ds += e.taskInfo.duration
        k.stageTasks(e.stageId) = (ds, r || reads)
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { s.jobGroupId.foreach(g => execGroup(s.executionId) = g) }
    case end: SparkListenerSQLExecutionEnd =>
      synchronized {
        for (g <- execGroup.remove(end.executionId);
             qe <- org.apache.spark.sql.perfbench.SqlBridge.queryExecution(end))
          record(c(g), qe)
      }
    case _ =>
  }

  private def record(k: Counters, qe: QueryExecution): Unit = {
    k.executions += 1
    k.planMs += qe.tracker.phases.values.map(_.durationMs).sum
    PlanWalk.foreach(qe.executedPlan) {
      case s: SortExec =>
        k.sortMs += s.metrics.get("sortTime").map(_.value).getOrElse(0L)
      case _: ShuffleExchangeLike => k.exchanges += 1
      case j: BaseJoinExec =>
        k.joinRows += j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case _ =>
    }
  }
}

/** Walks a physical plan through AQE wrappers and query stages. */
object PlanWalk extends AdaptiveSparkPlanHelper

/** One traced span: a call into a layer, timed by the calling thread. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    group: String, startNs: Long, endNs: Long, gcMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans in memory around calls into the program. A disabled
  * tracer runs the body and records nothing.
  */
final class Tracer(spark: SparkSession, listener: Listener, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var nextId = 0
  var op = -1

  private def gcMsNow(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val id = nextId
      nextId += 1
      val group = s"perfbench-$id"
      val open = Span(id, name, stack.headOption.map(_.id).getOrElse(-1), op,
        group, System.nanoTime(), 0L, gcMsNow())
      stack ::= open
      sc.setJobGroup(group, name, interruptOnCancel = false)
      try body
      finally {
        val end = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.group, p.name, interruptOnCancel = false)
          case None    => sc.clearJobGroup()
        }
        spans += open.copy(endNs = end, gcMs = gcMsNow() - open.gcMs)
      }
    }

  private def descendants(s: Span): Seq[Span] = {
    val kids = spans.filter(_.parent == s.id).toSeq
    kids ++ kids.flatMap(descendants)
  }

  /** Counters of a span, its child spans included. Call after [[drain]]. */
  def counters(s: Span): Counters = {
    val out = new Counters
    (s +: descendants(s)).foreach(x => out += listener.counters(x.group))
    out
  }

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** The spans named `name`, one per traced op that recorded it. */
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Spans plus their counters as JSON lines, for the run's span file. */
  def dump(path: java.nio.file.Path, header: String): Unit = {
    val lines = header +: spans.toSeq.sortBy(_.id).map { s =>
      val k = counters(s)
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        f""""start_ns":${s.startNs},"end_ns":${s.endNs},"gc_ms":${s.gcMs},""" +
        f""""jobs":${k.jobs},"stages":${k.stages},"tasks":${k.tasks},""" +
        f""""failed_tasks":${k.failedTasks},"cpu_ns":${k.cpuNs},""" +
        f""""task_gc_ms":${k.gcMs},"fetch_wait_ms":${k.fetchWaitMs},""" +
        f""""shuffle_write_bytes":${k.shuffleWriteBytes},"spill_bytes":${k.spillBytes},""" +
        f""""executions":${k.executions},"plan_ms":${k.planMs}%.3f,""" +
        f""""sort_ms":${k.sortMs},"exchanges":${k.exchanges},"join_rows":${k.joinRows}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
