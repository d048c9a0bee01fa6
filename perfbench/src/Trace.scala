package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around calls into the engine, kept in memory and written out at
  * the end of a traced run. Each span sets the Spark job group to its own
  * id, so the listener can charge every job, stage and task the call
  * starts to that span. Planning phases are charged by time: a query's
  * analysis start falls inside exactly one innermost span, because the
  * benchmark is a single closed-loop client.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext

  final class Span(val id: Int, val name: String, val parent: Int, val op: Int) {
    val startNs: Long = System.nanoTime()
    val startMs: Long = System.currentTimeMillis()
    var endNs: Long = 0L
    var endMs: Long = 0L
    // counters charged by the listener (listener-bus thread) or at close
    var jobs, stages, tasks, failedTasks, retriedStages = 0L
    var runMs, cpuNs, taskGcMs, inBytes, inRecords = 0L
    var shWriteBytes, shReadBytes, fetchWaitMs, spillBytes = 0L
    var outBytes, outRecords = 0L
    var jvmGcMs, codegenNs, codegenClasses = 0L
    var analysisMs, optimizationMs, planningMs = 0L
    val busy = ArrayBuffer.empty[(Long, Long)]
    val taskMs = scala.collection.mutable.HashMap.empty[Int, ArrayBuffer[Long]]
    val shuffleStages = scala.collection.mutable.HashSet.empty[Int]
  }

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val stageSpan = new ConcurrentHashMap[Int, Span]()

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def span[T](name: String, op: Int)(body: => T): T = {
    val s = synchronized {
      val sp = new Span(spans.size, name, stack.headOption.fold(-1)(_.id), op)
      spans += sp
      sp
    }
    stack = s :: stack
    sc.setJobGroup(s"span-${s.id}", name, interruptOnCancel = false)
    val gc0 = gcMs
    val cg0 = CodeGenerator.compileTime
    val cc0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      s.jvmGcMs = gcMs - gc0
      s.codegenNs = CodeGenerator.compileTime - cg0
      s.codegenClasses = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cc0
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name, interruptOnCancel = false)
        case None    => sc.clearJobGroup()
      }
    }
  }

  /** Blocks until the listener bus has delivered every posted event, so a
    * span's counters are complete before they are read. The bus is not
    * public API; without it a short sleep stands in.
    */
  def drain(): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: Exception => Thread.sleep(300) }

  private def spanOfGroup(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("span-"))
      .map(g => synchronized(spans(g.stripPrefix("span-").toInt)))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    spanOfGroup(e.properties).foreach { s =>
      s.synchronized(s.jobs += 1)
      e.stageIds.foreach(id => stageSpan.put(id, s))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    Option(stageSpan.get(si.stageId)).foreach { s =>
      s.synchronized {
        s.stages += 1
        if (si.attemptNumber() > 0) s.retriedStages += 1
        for (a <- si.submissionTime; b <- si.completionTime) s.busy += ((a, b))
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      s.synchronized {
        s.tasks += 1
        if (e.reason != Success) s.failedTasks += 1
        s.taskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty[Long]) += e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.taskGcMs += m.jvmGCTime
          s.inBytes += m.inputMetrics.bytesRead
          s.inRecords += m.inputMetrics.recordsRead
          s.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
          if (m.shuffleWriteMetrics.bytesWritten > 0) s.shuffleStages += e.stageId
          s.shReadBytes += m.shuffleReadMetrics.totalBytesRead
          s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          s.outBytes += m.outputMetrics.bytesWritten
          s.outRecords += m.outputMetrics.recordsWritten
        }
      }
    }

  /** Planning phases of every finished query, charged to the innermost
    * span open when its analysis began.
    */
  val planListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = charge(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = charge(qe)
    private def charge(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(name: String): Long = ph.get(name).fold(0L)(p => p.endTimeMs - p.startTimeMs)
      ph.get("analysis").orElse(ph.values.headOption).foreach { first =>
        val t = first.startTimeMs
        val inner = Tracer.this.synchronized(spans.filter(s =>
          s.startMs <= t && (s.endMs == 0L || t <= s.endMs)).lastOption)
        inner.foreach { s =>
          s.synchronized {
            s.analysisMs += ms("analysis")
            s.optimizationMs += ms("optimization")
            s.planningMs += ms("planning")
          }
        }
      }
    }
  }

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Max over median task time in the span's multi-task stage with the
    * longest task: how far one task sets that stage's wall.
    */
  private def skew(s: Span): Double = {
    val multi = s.taskMs.values.filter(_.size > 1)
    if (multi.isEmpty) 0.0
    else {
      val ts = multi.maxBy(_.max).sorted
      val n = ts.size
      val median = (ts((n - 1) / 2) + ts(n / 2)) / 2.0
      ts.last / math.max(median, 1.0)
    }
  }

  /** Runs `body` in a span of its own, outside any op, and returns its
    * result with the span's task skew (see `skew`). `body` opens no spans.
    */
  def withSkew[T](name: String)(body: => T): (T, Double) = {
    val r = span(name, -1)(body)
    drain()
    val s = synchronized(spans.last)
    (r, s.synchronized(skew(s)))
  }

  /** One record per span, with self time already worked out. */
  def records(): Seq[Map[String, Any]] = {
    drain()
    val all = synchronized(spans.toList)
    all.map { s =>
      val wallMs = (s.endNs - s.startNs) / 1e6
      val children = all.filter(_.parent == s.id)
      val childMs = unionMs(children.map(c => (c.startNs / 1000000L, c.endNs / 1000000L)))
      s.synchronized {
        ListMap[String, Any](
          "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs,
          "wall_s" -> wallMs / 1e3, "self_s" -> math.max(0.0, wallMs - childMs) / 1e3,
          "busy_s" -> unionMs(s.busy.toSeq) / 1e3,
          "jobs" -> s.jobs, "stages" -> s.stages, "tasks" -> s.tasks,
          "failed_tasks" -> s.failedTasks, "retried_stages" -> s.retriedStages,
          "task_run_s" -> s.runMs / 1e3, "task_cpu_s" -> s.cpuNs / 1e9,
          "task_gc_s" -> s.taskGcMs / 1e3, "jvm_gc_s" -> s.jvmGcMs / 1e3,
          "in_bytes" -> s.inBytes, "in_records" -> s.inRecords,
          "shuffle_write_bytes" -> s.shWriteBytes, "shuffle_read_bytes" -> s.shReadBytes,
          "shuffle_stages" -> s.shuffleStages.size,
          "fetch_wait_s" -> s.fetchWaitMs / 1e3, "spill_bytes" -> s.spillBytes,
          "out_bytes" -> s.outBytes, "out_records" -> s.outRecords,
          "analysis_s" -> s.analysisMs / 1e3, "optimization_s" -> s.optimizationMs / 1e3,
          "planning_s" -> s.planningMs / 1e3,
          "codegen_s" -> s.codegenNs / 1e9, "codegen_classes" -> s.codegenClasses)
      }
    }
  }
}
