package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: `Main <plan.json> <records.jsonl> <seconds>
  * <trace 0|1> <setup reps> <op timeout s>`.
  *
  * It starts one session, sets the workload up `reps` times, runs the
  * warm-up operations once, then runs a closed loop with one client for
  * `seconds`.
  * With tracing on, rounds alternate between untraced and traced.
  * Every operation, fact and span goes to the record file; `run.py` checks
  * the results against the generator's ledger and computes the metrics. */
object Main {

  private def session(localDir: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = GraftSession.builder(cpus).config("spark.local.dir", localDir).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftMetrics.install(spark)
    spark
  }

  def main(args: Array[String]): Unit = {
    val Array(planPath, recordPath, secondsArg, traceArg, repsArg, timeoutArg) = args
    val plan: JsonNode = new ObjectMapper().readTree(new java.io.File(planPath))
    val localDir = System.getProperty("java.io.tmpdir")
    val rec = new Records(recordPath)
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val workload = Workload(plan)
    var spark: SparkSession = null
    var watchdog: Watchdog = null
    var opSeq = 0L

    def writeSpans(t: Tracer): Unit =
      t.spans.foreach(s => rec.write("t" -> "span", "id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs))

    def runOp(op: JsonNode, phase: String, t: Tracer, probe: Option[Probe]): Unit = {
      opSeq += 1
      val tag = s"perfbench-op-$opSeq"
      spark.sparkContext.addJobTag(tag)
      t.startOp(opSeq)
      probe.foreach(_.begin())
      val kind = op.get("kind").asText
      val t0 = System.nanoTime()
      val outcome = watchdog.run(tag)(t.span(kind)(workload.run(spark, op, t)))
      val ms = (System.nanoTime() - t0) / 1e6
      spark.sparkContext.removeJobTag(tag)
      val counters = probe.map(_.end(ms))
      val facts =
        try Right(workload.facts(spark, op, t))
        catch { case e: Exception => Left(s"${e.getClass.getName}: ${e.getMessage}".take(500)) }
      val (status, err, result) = (outcome, facts) match {
        case (Left((s, e)), _) => (s, e, null)
        case (Right(r), Left(e)) => ("error", s"output check failed: $e", r)
        case (Right(r), Right(_)) => ("ok", null, r)
      }
      rec.write("t" -> "op", "phase" -> phase, "seq" -> opSeq, "id" -> op.get("id").asLong,
        "kind" -> kind, "ms" -> ms, "status" -> status, "error" -> err, "result" -> result,
        "facts" -> facts.getOrElse(Map.empty), "counters" -> counters)
    }

    try {
      val t0 = System.nanoTime()
      spark = session(localDir)
      val s = spark
      watchdog = new Watchdog(timeoutArg.toLong * 1000L, tag => {
        s.streams.active.foreach(_.stop())
        s.sparkContext.cancelJobsWithTag(tag)
      })
      // "s" runs from JVM start, so it covers JVM boot and class loading
      rec.write("t" -> "session",
        "s" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3,
        "session_s" -> (System.nanoTime() - t0) / 1e9)
      // set-up repeats; with tracing on, the last repetition is traced so
      // the layers set-up drives report their spans
      val reps = repsArg.toInt
      (1 to reps).foreach { rep =>
        val t = new Tracer(spark, traced = traced && rep == reps)
        opSeq += 1
        t.startOp(opSeq)
        val t1 = System.nanoTime()
        val tag = s"perfbench-setup-$rep"
        spark.sparkContext.addJobTag(tag)
        val outcome = watchdog.run(tag)(t.span("setup")(workload.setup(spark, rep, t)))
        spark.sparkContext.removeJobTag(tag)
        val secs = (System.nanoTime() - t1) / 1e9
        rec.write("t" -> "setup", "rep" -> rep, "s" -> secs)
        // only the last repetition's output is used, so only it is checked
        val checked = outcome.flatMap(_ =>
          if (rep < reps) Right(None)
          else try Right(workload.setupCheck(spark, t))
          catch { case e: Exception => Left(("error", s"set-up check failed: $e".take(500))) })
        def setupOp(fields: (String, Any)*): Unit =
          rec.write(Seq("t" -> "op", "phase" -> s"setup$rep", "seq" -> opSeq, "id" -> -1,
            "kind" -> "setup", "ms" -> secs * 1e3) ++ fields: _*)
        checked match {
          case Left((status, err)) => setupOp("status" -> status, "error" -> err, "facts" -> Map.empty)
          case Right(Some((result, facts))) =>
            setupOp("status" -> "ok", "result" -> result, "facts" -> facts)
          case Right(None) =>
        }
        if (t.traced) writeSpans(t)
      }
      val t2 = System.nanoTime()
      val untraced = new Tracer(spark, traced = false)
      workload.warmup.foreach(op => runOp(op, "warmup", untraced, None))
      rec.write("t" -> "warmup", "s" -> (System.nanoTime() - t2) / 1e9)
      val cpus = Runtime.getRuntime.availableProcessors
      val mm = org.apache.spark.SparkEnv.get.memoryManager
      rec.write("t" -> "env", "nproc" -> cpus, "heap_bytes" -> Runtime.getRuntime.maxMemory,
        "storage_bytes" -> mm.maxOnHeapStorageMemory, "jdk" -> System.getProperty("java.version"),
        "spark" -> spark.version, "master" -> spark.sparkContext.master)

      // With tracing on, rounds alternate between untraced and traced,
      // so both halves see the same JIT state and machine window and their
      // difference is the tracing overhead.
      val ops = workload.ops.buffered
      val probe = new Probe(spark)
      val plainT = new Tracer(spark, traced = false)
      val tracedT = new Tracer(spark, traced = true)
      var tracing = false
      var first = true
      var sawTraced = !traced // a traced run measures at least one traced round
      val minRounds = plan.get("min_rounds").asInt
      var rounds = 0
      val until = System.nanoTime() + (seconds * 1e9).toLong
      while (ops.hasNext && !(System.nanoTime() >= until && workload.boundary(ops.head) &&
          sawTraced && rounds >= minRounds)) {
        val op = ops.next()
        if (workload.boundary(op)) rounds += 1
        if (traced && workload.boundary(op) && !first) {
          tracing = !tracing
          if (tracing) probe.install() else probe.uninstall()
        }
        first = false
        sawTraced ||= tracing
        if (tracing) runOp(op, "traced", tracedT, Some(probe))
        else runOp(op, "plain", plainT, None)
      }
      if (tracing) probe.uninstall()
      writeSpans(tracedT)
      rec.write("t" -> "summary", "facts" -> workload.summary(spark),
        "exhausted" -> !ops.hasNext, "rss_peak_kb" -> peakRssKb())
    } finally {
      if (watchdog != null) watchdog.close()
      if (spark != null) spark.stop()
      rec.close()
    }
  }

  /** VmHWM of this process, in kB (Linux). */
  def peakRssKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
    }.getOrElse(-1L)
    finally src.close()
  }
}

/** Checks the watchdog's two properties without Spark; prints one JSON line.
  *
  * - `returned_normally`: a body that swallows the interrupt and returns
  *   after the timeout must be reported as a timeout;
  * - `races`: operations whose duration is close to the timeout, each
  *   followed at once by a short operation. No short operation may see an
  *   interrupt or be reported as anything but ok, and cancellation may only
  *   ever name an operation that was reported as timed out. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val cancelled = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val w = new Watchdog(20L, tag => cancelled.add(tag))
    val swallowed = w.run("swallow") {
      try Thread.sleep(500) catch { case _: InterruptedException => () }
      "partial result"
    }
    val thrown = w.run("throw")(throw new IllegalStateException("boom"))
    val fine = w.run("fine")(42)
    var leaks = 0
    var wrongCancel = 0
    var timedOut = 0
    val rng = new scala.util.Random(7)
    (1 to 300).foreach { i =>
      val spin = 18L + rng.nextInt(5)
      val tag = s"race-$i"
      val r = w.run(tag) {
        val until = System.nanoTime() + spin * 1000000L
        while (System.nanoTime() < until) {}
        "ok"
      }
      if (r.isLeft) timedOut += 1
      else if (cancelled.contains(tag)) wrongCancel += 1
      val next = w.run(s"next-$i") {
        Thread.sleep(2)
        Thread.currentThread().isInterrupted
      }
      if (next != Right(false)) leaks += 1
      if (cancelled.contains(s"next-$i")) wrongCancel += 1
    }
    w.close()
    def show(r: Either[(String, String), Any]) = r.fold(_._1, _ => "ok")
    println(s"""{"returned_normally":"${show(swallowed)}","thrown":"${show(thrown)}",""" +
      s""""fine":"${show(fine)}","races":300,"race_timeouts":$timedOut,""" +
      s""""leaks":$leaks,"wrong_cancel":$wrongCancel}""")
  }
}
