package graft.perfbench

import java.util.{Timer, TimerTask}
import java.util.zip.CRC32

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanLike, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Order-independent row digests: `count:sum(crc32(row))`, where a row
  * renders as its fields joined by tabs and NULL renders as `\N`. The
  * generators in `gen.py` compute the same digest from their ledgers. */
object Digest {
  private def render(v: Any): String = if (v == null) "\\N" else v.toString

  def ofRows(rows: Iterable[Row]): String = {
    var sum = 0L
    rows.foreach { r =>
      val crc = new CRC32
      crc.update(r.toSeq.map(render).mkString("\t").getBytes("UTF-8"))
      sum += crc.getValue
    }
    s"${rows.size}:$sum"
  }

  /** The same digest computed by Spark, for outputs too large to collect. */
  def ofFrame(df: DataFrame, cols: Column*): String = {
    val line = concat_ws("\t", cols.map(c => coalesce(c.cast("string"), lit("\\N"))): _*)
    val r = df.select(crc32(line.cast("binary")).as("c"))
      .agg(count(lit(1)), coalesce(sum(col("c")), lit(0L)))
      .head()
    s"${r.getLong(0)}:${r.getLong(1)}"
  }
}

/** One JSON object per line, appended to the run's record file. */
final class Records(path: String) {
  private val mapper = new ObjectMapper()
  private val out = new java.io.PrintWriter(
    new java.io.OutputStreamWriter(new java.io.FileOutputStream(path), "UTF-8"))

  private def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val jm = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => jm.put(k.toString, toJava(x)) }
      jm
    case s: Iterable[_] =>
      val jl = new java.util.ArrayList[Any]()
      s.foreach(x => jl.add(toJava(x)))
      jl
    case o: Option[_] => o.map(toJava).orNull
    case x => x
  }

  def write(fields: (String, Any)*): Unit = synchronized {
    out.println(mapper.writeValueAsString(toJava(scala.collection.immutable.ListMap(fields: _*))))
    out.flush()
  }

  def close(): Unit = out.close()
}

/** Per-operation watchdog.
  *
  * Two properties matter, and both are checked by `SelfTest`:
  *   - an operation the watchdog fired on is reported as timed out even
  *     when its body returns normally, as a stopped `AvailableNow` drain
  *     does;
  *   - a watchdog that fires while the operation is finishing never leaks
  *     its interrupt or its cancellation into the next operation: the
  *     timer acts only under `lock` and only while the operation is not
  *     finished, the operation marks itself finished under the same lock,
  *     and it clears its thread's interrupt flag after that. Cancellation
  *     is by the operation's own job tag, so it cannot reach later jobs.
  */
final class Watchdog(timeoutMs: Long, onTimeout: String => Unit) {
  private val timer = new Timer("perfbench-watchdog", true)

  def run[T](tag: String)(body: => T): Either[(String, String), T] = {
    Thread.interrupted() // never start an operation with a stale interrupt
    val lock = new Object
    var finished = false
    var fired = false
    val caller = Thread.currentThread()
    val task = new TimerTask {
      def run(): Unit = lock.synchronized {
        if (!finished) {
          fired = true
          try onTimeout(tag) finally caller.interrupt()
        }
      }
    }
    timer.schedule(task, timeoutMs)
    val result =
      try Right(body)
      catch { case e: Throwable if NonFatal(e) || e.isInstanceOf[InterruptedException] => Left(e) }
    lock.synchronized { finished = true }
    task.cancel()
    Thread.interrupted()
    if (fired) Left(("timeout", s"timed out after $timeoutMs ms"))
    else result.left.map(e => ("error", s"${e.getClass.getName}: ${e.getMessage}".take(500)))
  }

  def close(): Unit = timer.cancel()
}

/** Spark counters attributed to operations and spans.
  *
  * Registered only in the traced phase. The client is single-threaded
  * and closed-loop, so every job, task and query execution the bus
  * delivers between `begin` and `end` belongs to the current operation;
  * `end` drains the bus first. Jobs are attributed to the span that
  * started them through the job group the tracer sets. */
final class Probe(spark: SparkSession) extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {

  final class Counters {
    var jobs, tasks, runMs, cpuNs, gcMs, shuffleWrite, spill, input = 0L
    var planMs = 0.0
    var scanFiles, scanBytes = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private var op = new Counters
  private val bySpan = mutable.Map.empty[String, Counters]
  private val stageSpan = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, (Long, String)]

  private def spanOf(group: String): Option[Counters] =
    Option(group).map(g => bySpan.getOrElseUpdate(g, new Counters))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobStart(e.jobId) = (e.time, group)
    e.stageIds.foreach(s => if (group != null) stageSpan(s) = group)
    (Seq(op) ++ spanOf(group)).foreach(_.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, group) =>
      (Seq(op) ++ spanOf(group)).foreach(_.jobIntervals += ((t0, e.time)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    (Seq(op) ++ stageSpan.get(e.stageId).flatMap(spanOf)).foreach { c =>
      c.tasks += 1
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.diskBytesSpilled + m.memoryBytesSpilled
        c.input += m.inputMetrics.bytesRead
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
    val scans = collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanLike => s }
    synchronized {
      op.planMs += planMs
      scans.foreach { s =>
        op.scanFiles += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        op.scanBytes += s.metrics.get("filesSize").map(_.value).getOrElse(0L)
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def begin(): Unit = synchronized {
    op = new Counters
    bySpan.clear()
    stageSpan.clear()
  }

  private def drain(): Unit =
    org.apache.spark.sql.graftbridge.Bridge.waitListenerBusEmpty(spark, 30000L)

  /** Counters of the operation that ran since `begin`, over `wallMs`. */
  def end(wallMs: Double): Map[String, Any] = {
    drain()
    synchronized {
      val busy = union(op.jobIntervals.toSeq)
      Map(
        "jobs" -> op.jobs, "tasks" -> op.tasks, "run_ms" -> op.runMs,
        "cpu_ns" -> op.cpuNs, "gc_ms" -> op.gcMs, "shuffle_write" -> op.shuffleWrite,
        "spill" -> op.spill, "input" -> op.input, "plan_ms" -> op.planMs,
        "scan_files" -> op.scanFiles, "scan_bytes" -> op.scanBytes,
        "gap_ms" -> math.max(0.0, wallMs - busy),
        "spans" -> bySpan.map { case (g, c) =>
          g -> Map("jobs" -> c.jobs, "tasks" -> c.tasks, "run_ms" -> c.runMs)
        }.toMap)
    }
  }

  /** Total length covered by a set of intervals. */
  private def union(iv: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s
        curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered.toDouble
  }
}

/** Spans around the benchmark's calls into each layer.
  *
  * Untraced, `span` and `cut` only run their body. Traced, a span records
  * (name, start, end, parent, op) in memory and sets the job group so the
  * probe attributes jobs to it; `cut` materializes a lazy DataFrame at a
  * layer boundary (persist + count), so the layer's work lands in its own
  * span instead of in whichever later layer forces it. */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  final case class Span(id: Int, parent: Int, op: Long, name: String, startNs: Long, endNs: Long)

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String)]
  private var currentOp = -1L
  private val persisted = mutable.ArrayBuffer.empty[DataFrame]

  def startOp(id: Long): Unit = {
    currentOp = id
    stack = Nil
  }

  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val id = Tracer.nextId.incrementAndGet()
      val parent = stack.headOption.map(_._1).getOrElse(0)
      val group = s"span-$id"
      stack = (id, group) :: stack
      spark.sparkContext.setJobGroup(group, name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        spans += Span(id, parent, currentOp, name, t0, t1)
        stack = stack.tail
        stack.headOption match {
          case Some((_, g)) => spark.sparkContext.setJobGroup(g, "")
          case None => spark.sparkContext.clearJobGroup()
        }
      }
    }

  def cut(df: DataFrame): DataFrame =
    if (!traced) df
    else {
      val p = df.persist()
      persisted += p
      p.count()
      p
    }

  def release(): Unit = {
    persisted.foreach(_.unpersist(blocking = true))
    persisted.clear()
  }
}

object Tracer {
  /** Span ids are unique across the tracers of one run (set-up and loop),
    * so parents and job groups never collide. */
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
}
