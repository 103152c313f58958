package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's instruments: Spark's public listeners plus the codegen
  * metrics source, registered from the benchmark's side only.
  *
  * The listeners are attached only around traced passes. Everything stays
  * in memory; `window` summarises one time interval (a pass) after the run. Jobs carry the span that started them through the
  * `perfbench.span` local property ("<query>:<build|plan|execute>").
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val stages = new ConcurrentLinkedQueue[java.lang.Long]()
  private val plans = new ConcurrentLinkedQueue[(Long, Double)]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).map(_.getProperty(SpanKey)).orNull
      jobs.add(JobRec(e.jobId, e.time, if (span == null) "" else span))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.put(e.jobId, e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.add(e.stageInfo.completionTime.map(Long.box).getOrElse(Long.box(System.currentTimeMillis())))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null) tasks.add(TaskRec(i.launchTime, i.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead,
        m.shuffleReadMetrics.fetchWaitTime,
        m.diskBytesSpilled + m.memoryBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead))
    }
  }

  private val qel = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      val ms = Seq("optimization", "planning").flatMap(ph.get)
        .map(p => p.endTimeMs - p.startTimeMs).sum
      plans.add((System.currentTimeMillis(), ms / 1000.0))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val sql = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Runs `body` with the listeners attached. */
  def traced[A](body: => A): A = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qel)
    spark.streams.addListener(sql)
    try body
    finally {
      // give the listener bus a moment to deliver the last events
      Thread.sleep(500)
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(qel)
      spark.streams.removeListener(sql)
    }
  }

  /** Gauges each window metric's median over the given passes (ms). */
  def report(result: Result, passes: Seq[(Long, Long)], cores: Int): Unit = {
    val ws = passes.map { case (t0, t1) => window(t0, t1, cores) }
    ws.head.foreach { case (k, _) =>
      result.gauge(k, Main.median(ws.map(_.toMap.apply(k))), unitOf(k), e2e = false)
    }
  }

  /** Scheduler, exec, shuffle, sources and planner counts for [t0, t1] ms. */
  private def window(t0: Long, t1: Long, cores: Int): Seq[(String, Double)] = {
    val js = jobs.asScala.filter(j => j.start >= t0 && j.start <= t1).toSeq
    val ts = tasks.asScala.filter(t => t.finish >= t0 && t.finish <= t1).toSeq
    val jobIntervals = js.map(j => (j.start, Option(jobEnds.get(j.id)).map(_.longValue).getOrElse(t1)))
    val busy = union(ts.map(t => (t.launch, t.finish)))
    val inJobs = union(jobIntervals)
    val noTaskMs = inJobs.map { case (a, b) => (b - a) - overlap(a, b, busy) }.sum
    val wallS = (t1 - t0) / 1000.0
    val taskS = ts.map(_.runMs).sum / 1000.0
    val mb = 1024.0 * 1024.0
    Seq(
      "operators.build_jobs" -> js.count(_.span.endsWith(":build")).toDouble,
      "scheduler.jobs" -> js.size.toDouble,
      "scheduler.stages" -> stages.asScala.count(s => s >= t0 && s <= t1).toDouble,
      "scheduler.tasks" -> ts.size.toDouble,
      "scheduler.no_task_s" -> noTaskMs / 1000.0,
      "exec.task_s" -> taskS,
      "exec.cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> ts.map(_.gcMs).sum / 1000.0,
      "exec.slot_util" -> (if (wallS > 0) taskS / (wallS * cores) else 0.0),
      "shuffle.write_mb" -> ts.map(_.shuffleWrite).sum / mb,
      "shuffle.read_mb" -> ts.map(_.shuffleRead).sum / mb,
      "shuffle.fetch_wait_s" -> ts.map(_.fetchWaitMs).sum / 1000.0,
      "shuffle.spill_mb" -> ts.map(_.spill).sum / mb,
      "sources.input_mb" -> ts.map(_.inBytes).sum / mb,
      "sources.input_rows" -> ts.map(_.inRecords).sum.toDouble,
      "planner.write_plan_s" -> plans.asScala.filter(p => p._1 >= t0 && p._1 <= t1).map(_._2).sum)
  }
}

object Trace {
  val SpanKey = "perfbench.span"

  final case class JobRec(id: Int, start: Long, span: String)
  final case class TaskRec(launch: Long, finish: Long, runMs: Long, cpuNs: Long,
                           gcMs: Long, shuffleWrite: Long, shuffleRead: Long,
                           fetchWaitMs: Long, spill: Long, inBytes: Long,
                           inRecords: Long)

  private def unitOf(key: String): String = key.split('.').last match {
    case s if s.endsWith("_s") => "s"
    case s if s.endsWith("_mb") => "MB"
    case "slot_util" => "ratio"
    case _ => "count"
  }

  /** JVM-wide codegen counters: (compiles, compile seconds). */
  def codegen(): (Long, Double) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime / 1e9)

  /** Merges intervals into a sorted disjoint list. */
  def union(xs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    xs.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((a, b) :: rest, (c, d)) if c <= b => (a, math.max(b, d)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  private def overlap(a: Long, b: Long, sorted: Seq[(Long, Long)]): Long =
    sorted.iterator.map { case (c, d) => math.max(0L, math.min(b, d) - math.max(a, c)) }.sum
}
