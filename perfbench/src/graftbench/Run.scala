package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, out: String, work: String, fault: String)

/** One operation of a workload: its latency, the items of work it
  * completed, and whether it failed (an error, a timeout or a failed
  * check). Warm-up operations are run but not recorded. */
final class OpRec(val id: String, val kind: String, val traced: Boolean, val warm: Boolean) {
  var startNs = 0L
  var latNs = 0L
  var items = 0L
  var ok = true
  var wrong = false
  var err = ""
  var responseBytes = 0L
  /** the client that ran it, when several run side by side */
  var lane = 0

  /** `check` marks a wrong answer, as opposed to an error or timeout. */
  def fail(why: String, check: Boolean): Unit = synchronized {
    if (ok) { ok = false; err = why; wrong = check }
  }
}

/** State of one benchmark run: the operations, the recall samples and
  * the named facts (setup timings, probe results) the report is built
  * from. */
final class Run(val args: Args, val spark: SparkSession, val tracer: Tracer) {
  val nproc: Int = Runtime.getRuntime.availableProcessors()
  private val ops = new ConcurrentLinkedQueue[OpRec]()
  private val recall = new ConcurrentLinkedQueue[(Seq[Long], Seq[Long])]()
  private val facts = mutable.LinkedHashMap.empty[String, Any]
  private val seq = new AtomicLong()
  private val wrongPending = new AtomicBoolean(args.fault == "wrong")
  private val timeoutPending = new AtomicBoolean(args.fault == "timeout")
  /** an operation that takes longer than this has timed out */
  val budgetNs: Long = 60L * 1000000000L

  /** A new operation. With tracing on, every other timed operation is
    * traced, so the untraced ones measure the overhead. */
  def newOp(kind: String, warm: Boolean = false): OpRec =
    if (warm) new OpRec(s"${Tracer.TagPrefix}warm-$kind-${seq.get}", kind, false, true)
    else {
      val n = seq.getAndIncrement()
      new OpRec(s"${Tracer.TagPrefix}$kind-$n", kind, tracer.enabled && n % 2 == 0, false)
    }

  /** Runs `f` as `op`, timing it. An exception or a run past the budget
    * fails the operation. Every timed (not warm-up) operation counts as
    * attempted. */
  def timed[A](op: OpRec, root: String = "bench.op")(f: => A): Option[A] = {
    if (!op.warm) ops.add(op)
    val budget = if (!op.warm && timeoutPending.getAndSet(false)) 1000000L else budgetNs
    op.startNs = System.nanoTime()
    val r = try Some(tracer.op(op.id, op.traced, root)(f)) catch {
      case NonFatal(e) =>
        op.fail(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300), check = false)
        None
    }
    op.latNs = System.nanoTime() - op.startNs
    if (op.latNs > budget)
      op.fail(s"timeout: took ${op.latNs / 1000000} ms, budget ${budget / 1000000} ms", check = false)
    r
  }

  /** True exactly once when a wrong answer is to be forced (`--fault wrong`). */
  def forceWrong(): Boolean = wrongPending.getAndSet(false)

  def addRecall(got: Seq[Long], exact: Seq[Long]): Unit = recall.add((got, exact))

  def put(key: String, value: Any): Unit = facts.synchronized { facts(key) = value }

  /** Wall time of `f` in seconds. */
  def secs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  def report(): Map[String, Any] = {
    val counts = tracer.opCounts()
    Map(
      "ops" -> ops.asScala.toSeq.map(o => Map(
        "id" -> o.id, "kind" -> o.kind, "traced" -> o.traced,
        "start_ns" -> o.startNs, "lat_ms" -> o.latNs / 1e6, "items" -> o.items,
        "ok" -> o.ok, "wrong" -> o.wrong, "err" -> o.err,
        "response_bytes" -> o.responseBytes, "lane" -> o.lane,
        "spark" -> counts.getOrElse(o.id, Map.empty))),
      "recall" -> recall.asScala.toSeq.map { case (g, e) => Map("got" -> g, "exact" -> e) },
      "facts" -> facts.synchronized(facts.toMap),
      "spans" -> tracer.spans.asScala.toSeq.map(s => Map(
        "name" -> s.name, "op" -> s.op, "id" -> s.id, "parent" -> s.parent,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)),
      "setup_spark" -> counts.filter(_._1.startsWith(s"${Tracer.TagPrefix}setup")))
  }
}

object Run {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def dirBytes(path: String): (Long, Long) = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) (0L, 0L)
    else {
      val files = java.nio.file.Files.walk(p).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_)).toSeq
      (files.map(java.nio.file.Files.size).sum, files.size.toLong)
    }
  }

  def deleteDir(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
  }

  /** Runs `fs` side by side on threads (warm-up only: concurrent calls
    * would distort timed ones). A failure is rethrown on the calling
    * thread. */
  def inParallel[A](fs: Seq[() => A]): Seq[A] = {
    val out = fs.map(_ => new java.util.concurrent.atomic.AtomicReference[Either[Throwable, A]]())
    val threads = fs.zip(out).map { case (f, o) =>
      new Thread(() => o.set(try Right(f()) catch { case NonFatal(e) => Left(e) }))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    out.map(_.get.fold(e => throw e, identity))
  }
}
