package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of benchmark code around a call into a layer.
  * The layer is the name's prefix before the first '.'. Times are
  * `System.nanoTime`. `parent` 0 marks an operation's root span. */
final case class Span(name: String, op: String, id: Long, parent: Long,
    startNs: Long, endNs: Long)

/** Spans and Spark counts for traced operations.
  *
  * Every operation, traced or not, tags its thread with the local
  * property [[Tracer.PropOp]] and a Spark job tag of the same value, so
  * jobs, tasks and SQL executions of concurrent operations are told
  * apart. With tracing enabled a `SparkListener` and a
  * `QueryExecutionListener` collect the raw events; [[opCounts]] folds
  * them per operation once the run is over. Spans live in memory and
  * are written out with the results. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicLong(1)
  private val current = new ThreadLocal[(String, Long)]
  /** listener timestamps are wall-clock ms; this maps them onto nanoTime */
  val nanoOffset: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val execs = new ConcurrentHashMap[Long, ExecRec]()
  private val planning = new ConcurrentHashMap[Long, java.lang.Long]()

  if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val op = Option(e.properties).flatMap(p => Option(p.getProperty(PropOp))).orNull
        if (op != null) {
          jobs.put(e.jobId, JobRec(op, e.time, -1L))
          e.stageIds.foreach(s => stageOp.put(s, op))
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(j => jobs.put(e.jobId, j.copy(endMs = e.time)))
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stageSubmit.put(e.stageInfo.stageId,
          e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null && e.taskInfo != null)
          tasks.add(TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
            m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
            m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
            m.shuffleWriteMetrics.bytesWritten,
            m.memoryBytesSpilled + m.diskBytesSpilled))
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          s.jobTags.find(_.startsWith(TagPrefix)).foreach(op =>
            execs.put(s.executionId, ExecRec(op, s.time, -1L)))
        case s: SparkListenerSQLExecutionEnd =>
          Option(execs.get(s.executionId)).foreach(x =>
            execs.put(s.executionId, x.copy(endMs = s.time)))
        case _ =>
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit =
        planning.put(qe.id, qe.tracker.phases.values.map(_.durationMs).sum)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  /** Runs `f` as operation `op`, tagging its Spark work; a traced
    * operation also records its root span `name`. */
  def op[A](op: String, traced: Boolean, name: String)(f: => A): A = {
    tag(op)
    if (enabled && traced) {
      current.set((op, 0L))
      try span(name)(f) finally current.remove()
    } else {
      current.remove()
      f
    }
  }

  /** Tags this thread's Spark work as `op`. */
  def tag(op: String): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(PropOp, op)
    sc.clearJobTags()
    sc.addJobTag(op)
  }

  /** Records `f` as a child span of the thread's current span. */
  def span[A](name: String)(f: => A): A = current.get match {
    case null => f
    case (op, parent) =>
      val id = nextId.getAndIncrement()
      val t0 = System.nanoTime()
      current.set((op, id))
      try f finally {
        spans.add(Span(name, op, id, parent, t0, System.nanoTime()))
        current.set((op, parent))
      }
  }

  /** The (operation, span) this thread is in, for handing to another
    * thread through [[adopt]]. */
  def context: Option[(String, Long)] = Option(current.get)

  /** Continues operation `op` on this thread under span `parent`. */
  def adopt(op: String, parent: Long, traced: Boolean): Unit = {
    tag(op)
    if (enabled && traced) current.set((op, parent)) else current.remove()
  }

  def leave(): Unit = current.remove()

  /** Waits for the listener bus, then folds Spark events per operation:
    * counts, task metrics and synthesized `spark.sql` / `spark.job`
    * spans (parents are assigned by containment when the trace is
    * read). */
  def opCounts(): Map[String, Map[String, Double]] = {
    if (!enabled) return Map.empty
    org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
    val ns = (ms: Long) => ms * 1000000L + nanoOffset
    execs.asScala.foreach { case (_, x) =>
      if (x.endMs >= 0) spans.add(Span("spark.sql", x.op, nextId.getAndIncrement(), -1L,
        ns(x.startMs), ns(x.endMs)))
    }
    jobs.asScala.foreach { case (_, j) =>
      if (j.endMs >= 0) spans.add(Span("spark.job", j.op, nextId.getAndIncrement(), -1L,
        ns(j.startMs), ns(j.endMs)))
    }
    val byStage = tasks.asScala.toSeq.groupBy(_.stageId)
    val opStages = stageOp.asScala.toSeq.groupBy(_._2).map { case (op, ss) => op -> ss.map(_._1) }
    val opJobs = jobs.asScala.values.groupBy(_.op)
    val opExecs = execs.asScala.toSeq.groupBy(_._2.op)
    (opStages.keySet ++ opExecs.keySet).map { op =>
      val stages = opStages.getOrElse(op, Nil).filter(byStage.contains)
      val ts = stages.flatMap(byStage)
      val skews = stages.flatMap { s =>
        val d = byStage(s).map(t => (t.finishMs - t.launchMs).toDouble).sorted
        if (d.length < 2) None
        else Some(d.last / math.max(1.0, d(d.length / 2)))
      }.sorted
      val wait = stages.map { s =>
        val sub = Option(stageSubmit.get(s)).map(_.longValue).getOrElse(0L)
        byStage(s).map(t => math.max(0L, t.launchMs - sub)).sum
      }.sum
      val exIds = opExecs.getOrElse(op, Nil).map(_._1)
      op -> Map(
        "jobs" -> opJobs.get(op).map(_.size).getOrElse(0).toDouble,
        "stages" -> stages.size.toDouble,
        "tasks" -> ts.size.toDouble,
        "executor_cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
        "executor_run_ms" -> ts.map(_.runMs).sum.toDouble,
        "gc_ms" -> ts.map(_.gcMs).sum.toDouble,
        "input_bytes" -> ts.map(_.inBytes).sum.toDouble,
        "input_rows" -> ts.map(_.inRows).sum.toDouble,
        "shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
        "spill_bytes" -> ts.map(_.spill).sum.toDouble,
        "task_skew" -> (if (skews.isEmpty) 1.0 else skews(skews.length / 2)),
        "slot_wait_ms" -> wait.toDouble,
        "sql_actions" -> exIds.size.toDouble,
        "planning_ms" -> exIds.flatMap(i => Option(planning.get(i))).map(_.doubleValue).sum)
    }.toMap
  }
}

object Tracer {
  val PropOp = "graftbench.op"
  /** every operation id starts with this, so its job tag is recognisable */
  val TagPrefix = "gb-"

  final case class JobRec(op: String, startMs: Long, endMs: Long)
  final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long,
      runMs: Long, cpuNs: Long, gcMs: Long, inBytes: Long, inRows: Long,
      shuffleWrite: Long, spill: Long)
  final case class ExecRec(op: String, startMs: Long, endMs: Long)
}
