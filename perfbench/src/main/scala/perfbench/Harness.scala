package perfbench

import scala.util.{Failure, Success, Try}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    if (lo + 1 >= s.size) s.last else s(lo) + (pos - lo) * (s(lo + 1) - s(lo))
  }
}

/** A metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

final case class Result(attempted: Int, failed: Int, errors: Seq[String],
                        metrics: Seq[Metric], report: Seq[Metric], conditions: String) {
  def print(a: Main.Args): Unit = {
    errors.take(10).foreach(e => System.err.println(s"perfbench: FAILED $e"))
    println(s"""{"conditions": $conditions}""")
    report.foreach(m => println(f"${a.workload}%-15s ${m.name}%-40s ${m.value}%.6g ${m.unit}"))
    def num(d: Double) = if (d.isNaN || d.isInfinite) "0" else BigDecimal(d).bigDecimal.toPlainString
    val ms = metrics.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}""")
  }
}

/** Runs a workload: set-up (the build and the warm-up), the closed loop
  * of operations, the checks, and — in a traced run — the per-layer
  * metrics. */
object Harness {
  /** The operation numbers of a traced run's build and warm-up. */
  val BuildOp: Int = -1
  val WarmOp: Int = -2

  /** Span modules; `op` is the benchmark's own code around the calls. */
  val Modules: Seq[String] = Seq("op", "ingest", "store", "archive", "api", "rankings", "validation", "kbs")

  /** Per-layer metrics every traced run reports; a layer a workload does
    * not exercise reads 0. */
  val Layers: Seq[(String, String)] = Seq(
    "ingest.probe_s" -> "s", "ingest.parse_kline_s" -> "s", "ingest.rows" -> "count",
    "ingest.parse_ok_ratio" -> "ratio",
    "store.upsert_s" -> "s", "store.upsert_bytes_written" -> "B", "store.upsert_useful_ratio" -> "ratio",
    "store.files_per_partition" -> "count", "store.refresh_summary_s" -> "s",
    "store.refresh_summary_input_rows" -> "count", "store.write_partitioned_s" -> "s",
    "store.files_written" -> "count",
    "archive.refresh_s" -> "s", "archive.rows_written" -> "count", "archive.useful_ratio" -> "ratio") ++
    Call.Functions.map(f => s"api.${f}_p50_ms" -> "ms") ++ Seq(
    "api.plan_gap_ms" -> "ms", "api.jobs_per_call" -> "count", "api.files_read_per_call" -> "count",
    "api.rows_examined_per_row_returned" -> "ratio",
    "rankings.pipeline_s" -> "s", "rankings.shuffle_write_bytes" -> "B", "rankings.spill_bytes" -> "B",
    "validation.continuity_s" -> "s", "validation.incomplete_s" -> "s",
    "kbs.ingest_exec_s" -> "s", "kbs.tuning_exec_s" -> "s", "kbs.reband_exec_s" -> "s",
    "kbs.unlabelled_exec_s" -> "s", "kbs.rebands_fired" -> "count", "kbs.compactions" -> "count",
    "kbs.versions_on_disk" -> "count", "kbs.bytes_written_per_doc" -> "B/doc",
    "kbs.survivor_ratio" -> "ratio",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.input_bytes" -> "B", "spark.output_bytes" -> "B", "spark.shuffle_write_bytes" -> "B",
    "spark.shuffle_write_records" -> "count", "spark.shuffle_fetch_wait_s" -> "s",
    "spark.spill_bytes" -> "B", "spark.scheduler_delay_s" -> "s", "spark.driver_gap_s" -> "s",
    "spark.core_util" -> "ratio") ++
    Modules.map(m => s"self.${m}_s" -> "s") ++ Seq(
    "trace.overhead_ms" -> "ms", "trace.overhead_ratio" -> "ratio")

  private val memory = java.lang.management.ManagementFactory.getMemoryMXBean
  /** Heap the program retains outside Spark's block store, in MB: heap
    * used after a full collection, less the bytes of cached, checkpointed
    * and broadcast blocks the block manager still holds. Spark's cleaner
    * drops the blocks of frames and broadcasts nothing references on its
    * own thread some time after a collection, so the benchmark waits until
    * the block store stops shrinking, collects again and leaves out what
    * is left in it. The heap size is fixed, so heap in use before a
    * collection would only show how full the young generation happened to
    * be. */
  def liveHeapMb: Double = {
    System.gc()
    var last = -1L
    var stable = 0
    var polls = 0
    while (stable < 3 && polls < 50) {
      Thread.sleep(100)
      val b = org.apache.spark.BenchBus.storageBytes
      if (b == last) stable += 1 else { stable = 0; last = b }
      polls += 1
    }
    System.gc()
    val heap = memory.getHeapMemoryUsage.getUsed
    val blocks = org.apache.spark.BenchBus.storageBytes
    System.err.println(f"perfbench: heap after full collection ${heap / 1048576.0}%.1f MB, " +
      f"of it block store ${blocks / 1048576.0}%.1f MB")
    (heap - blocks) / 1048576.0
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole benchmark JVM (driver and local executors). */
  def cpuNs: Long = os.getProcessCpuTime

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
  /** CPU time of each live Java thread: the client thread, Spark's task,
    * scheduler and I/O threads, the engine's pool. The JIT compiler and GC
    * threads are not Java threads, so their work is not in it. */
  def threadCpuNs: Map[Long, Long] =
    threads.getAllThreadIds.iterator.map(id => id -> threads.getThreadCpuTime(id))
      .filter(_._2 >= 0).toMap
  /** Java-thread CPU spent between two snapshots (threads that ended in
    * between are not counted). */
  def threadCpuSince(before: Map[Long, Long]): Long =
    threadCpuNs.iterator.map { case (id, t) => t - before.getOrElse(id, 0L) }.sum

  /** (busy, stolen) jiffies of the host's CPUs so far, from /proc/stat
    * (zeros where it does not exist). Busy is user, nice, system, irq and
    * softirq time; stolen is time a virtual CPU wanted to run while the
    * hypervisor ran something else. */
  def cpuJiffies: (Long, Long) = {
    val f = new java.io.File("/proc/stat")
    if (!f.canRead) (0L, 0L)
    else {
      val src = scala.io.Source.fromFile(f)
      try {
        val j = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (j(0) + j(1) + j(2) + j(5) + j(6), j(7))
      } finally src.close()
    }
  }

  /** Wall time less the share of it the hypervisor stole: the time the
    * work would have taken on the CPUs it asked for. Waiting, I/O stalls
    * and lost parallelism stay in it. */
  def unstolenMs(wallMs: Double, before: (Long, Long), after: (Long, Long)): Double = {
    val busy = after._1 - before._1
    val stolen = after._2 - before._2
    if (busy + stolen <= 0) wallMs else wallMs * busy / (busy + stolen)
  }

  /** Wall and process-CPU seconds of `body`. */
  private def seconds(body: => Unit): (Double, Double) = {
    val t = System.nanoTime()
    val c = cpuNs
    body
    ((System.nanoTime() - t) / 1e9, (cpuNs - c) / 1e9)
  }

  def run(ctx: Ctx, w: Workload, a: Main.Args, sessionS: Double, sessionCpuS: Double): Result = {
    val sc = ctx.spark.sparkContext
    val n = w.ops(a.seconds)
    val listener = new EngineListener
    // A traced run also traces the build and the warm-up.
    def traced[A](op: Int)(body: => A): A = {
      sc.addSparkListener(listener)
      ctx.spans.on = true
      ctx.spans.op = op
      try ctx.spans("op")(body)
      finally {
        org.apache.spark.BenchBus.drain(sc)
        sc.removeSparkListener(listener)
        ctx.spans.on = false
      }
    }
    def setUp(op: Int)(body: => Unit): (Double, Double) = {
      val s = seconds(if (a.trace) traced(op)(body) else body)
      if (a.trace) w.afterTracedOp(op)
      s
    }
    val build = setUp(BuildOp)(w.build())
    val warm = setUp(WarmOp)(w.warmUp())
    System.err.println(f"perfbench: build ${build._1}%.2f s (cpu ${build._2}%.2f s), " +
      f"warm-up ${warm._1}%.2f s (cpu ${warm._2}%.2f s)")
    // Set-up time is process CPU time: the JVM and session start, the
    // build and the warm-up. Wall time is reported beside it.
    val setupS = sessionCpuS + build._2 + warm._2
    val setupWallS = sessionS + build._1 + warm._1

    val liveSetupMb = liveHeapMb

    val times = new Array[Double](n)
    val unstolen = new Array[Double](n)
    val cpuMs = new Array[Double](n)
    // A traced run traces every operation. Next to each it runs the
    // operation's untraced twin (the same work, on a copy of the state
    // where the operation changes it), before it on even and after it on
    // odd operations, so the tracing overhead compares like with like.
    val twinMs = new Array[Double](n)
    def twin(i: Int): Option[String] = {
      val t = System.nanoTime()
      val r = Try(w.twin(i))
      twinMs(i) = (System.nanoTime() - t) / 1e6
      r match {
        case Success(e) => e.map(e => s"twin of op $i: $e")
        case Failure(e) => Some(s"twin of op $i: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    var work = 0L
    val errors = Seq.newBuilder[String]
    var failed = 0
    for (i <- 0 until n) {
      val twinBefore = if (a.trace && i % 2 == 0) twin(i) else None
      val j = cpuJiffies
      val t = System.nanoTime()
      val c = threadCpuNs
      val r = Try(if (a.trace) traced(i)(w.op(i)) else w.op(i))
      times(i) = (System.nanoTime() - t) / 1e6
      unstolen(i) = unstolenMs(times(i), j, cpuJiffies)
      cpuMs(i) = threadCpuSince(c) / 1e6
      if (a.trace) w.afterTracedOp(i)
      val checked = r.flatMap(u => Try(w.check(i)).map(u -> _))
      val twinAfter = if (a.trace && i % 2 == 1) twin(i) else None
      checked match {
        case Success((u, None)) if twinBefore.isEmpty && twinAfter.isEmpty => work += u
        case Success((_, e)) => failed += 1; errors ++= (e.map(e => s"op $i: $e") ++ twinBefore ++ twinAfter)
        case Failure(e) => failed += 1; errors += s"op $i: ${e.getClass.getSimpleName}: ${e.getMessage}"
      }
    }
    System.err.println(s"perfbench: op ms ${times.map(t => f"$t%.0f").mkString(" ")} " +
      s"(cpu ${cpuMs.map(t => f"$t%.0f").mkString(" ")}; unstolen ${unstolen.map(t => f"$t%.0f").mkString(" ")})" +
      (if (a.trace) s", untraced twins ${twinMs.map(t => f"$t%.0f").mkString(" ")}" else ""))
    val liveMb = math.max(liveSetupMb, liveHeapMb)
    Try(w.finish()) match {
      case Success(None) => ()
      case Success(Some(e)) => failed = n; errors += s"end of run: $e"
      case Failure(e) => failed = n; errors += s"end of run: ${e.getClass.getSimpleName}: ${e.getMessage}"
    }
    val (bytes, rows) = w.footprint()
    val perS = work / (times.sum / 1e3)
    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("op_cpu_ms", cpuMs.sum / n, "ms"),
      Metric("op_wall_ms", unstolen.sum / n, "ms"),
      Metric("disk_bytes_per_row", bytes.toDouble / rows, "B/row"),
      Metric("live_heap_mb", liveMb, "MB"))
    val metrics = if (a.trace) layerMetrics(ctx, w, a, listener, times, twinMs) else e2e
    val report = workloadNames(a.workload, times.toSeq, perS) ++
      w.setupRows.map(r => Metric("backfill_rows_per_s", r / build._1, "rows/s")) ++
      e2e ++ Seq(
      Metric("op_wall_raw_ms", times.sum / n, "ms"),
      Metric("setup_wall_s", setupWallS, "s"),
      Metric("op_cpu_p50_ms", Stats.median(cpuMs.toSeq), "ms"),
      Metric("error_rate", failed.toDouble / n, "fraction"),
      Metric("ops", n, "count"))
    Result(n, failed, errors.result(), metrics, report, conditions(ctx, a))
  }

  /** The end-to-end metrics under the names of each workload's unit of work. */
  private def workloadNames(workload: String, ms: Seq[Double], perS: Double): Seq[Metric] = {
    val p50 = Stats.median(ms)
    workload match {
      case "query_mix" => Seq(Metric("query_p50_ms", p50, "ms"),
        Metric("query_p95_ms", Stats.quantile(ms, 0.95), "ms"),
        Metric("query_p95_samples_beyond", ms.count(_ > Stats.quantile(ms, 0.95)), "count"),
        Metric("queries_per_s", perS, "1/s"))
      case "store_maintain" => Seq(Metric("store_tick_p50_s", p50 / 1e3, "s"), Metric("store_docs_per_s", perS, "docs/s"))
    }
  }

  private def layerMetrics(ctx: Ctx, w: Workload, a: Main.Args, listener: EngineListener,
                           times: Array[Double], twinMs: Array[Double]): Seq[Metric] = {
    val ops = times.length
    val jobs = listener.synchronized(listener.jobs.values.toList)
    val t = new TraceData(ctx.spans.done.toSeq.filter(_.op >= 0), jobs, ops)
    val build = new TraceData(ctx.spans.done.toSeq.filter(_.op == BuildOp), jobs, 1)
    val warm = new TraceData(ctx.spans.done.toSeq.filter(_.op == WarmOp), jobs, 1)
    writeTrace(a, ctx.spans.done.toSeq, jobs)
    val owned = t.jobsUnder(_ => true)
    val all = t.work(owned)
    val roots = t.named("op")
    // Per operation, traced minus its untraced twin: median over the run.
    val overhead = Stats.median(times.indices.map(i => times(i) - twinMs(i)))
    val self = t.selfSeconds
    val engine = Seq(
      "spark.jobs" -> owned.size.toDouble / ops,
      "spark.stages" -> owned.map(_.stages).sum.toDouble / ops,
      "spark.tasks" -> all.tasks.toDouble / ops,
      "spark.executor_run_s" -> all.runMs / 1e3 / ops,
      "spark.executor_cpu_s" -> all.cpuNs / 1e9 / ops,
      "spark.gc_s" -> all.gcMs / 1e3 / ops,
      "spark.input_bytes" -> all.inBytes.toDouble / ops,
      "spark.output_bytes" -> all.outBytes.toDouble / ops,
      "spark.shuffle_write_bytes" -> all.shuffleBytes.toDouble / ops,
      "spark.shuffle_write_records" -> all.shuffleRecords.toDouble / ops,
      "spark.shuffle_fetch_wait_s" -> all.fetchWaitMs / 1e3 / ops,
      "spark.spill_bytes" -> all.spillBytes.toDouble / ops,
      "spark.scheduler_delay_s" -> all.schedDelayMs / 1e3 / ops,
      "spark.driver_gap_s" -> roots.map(t.gapMs).sum / 1e3 / ops,
      "spark.core_util" -> all.runMs / 1e3 / (roots.map(_.nanos).sum / 1e9 * ctx.cores),
      "trace.overhead_ms" -> overhead,
      "trace.overhead_ratio" -> overhead / Stats.median(twinMs.toSeq)) ++
      Modules.map(m => s"self.${m}_s" -> self.getOrElse(m, 0.0))
    val got = (engine ++ w.layers(t, build, warm).filter(_._2 != 0.0)).toMap
    val unknown = got.keySet -- Layers.map(_._1)
    require(unknown.isEmpty, s"per-layer metrics missing from the declared list: $unknown")
    Layers.map { case (name, unit) => Metric(name, got.getOrElse(name, 0.0), unit) }
  }

  /** Spans and jobs of the traced run, kept in memory until now. */
  private def writeTrace(a: Main.Args, spans: Seq[Span], jobs: Seq[JobRec]): Unit = {
    val dir = new java.io.File(a.work, "traces")
    dir.mkdirs()
    val out = new java.io.PrintWriter(new java.io.File(dir, s"${a.workload}-seed${a.seed}.jsonl"), "UTF-8")
    try new TraceData(spans, jobs, 1).jsonLines.foreach(out.println) finally out.close()
  }

  private def conditions(ctx: Ctx, a: Main.Args): String = {
    val rt = Runtime.getRuntime
    val host = java.net.InetAddress.getLocalHost.getHostName
    Seq(
      "workload" -> s""""${a.workload}"""", "seed" -> a.seed.toString, "seconds" -> a.seconds.toString,
      "trace" -> a.trace.toString, "nproc" -> rt.availableProcessors.toString,
      "spark_cores" -> ctx.cores.toString, "driver_heap_mb" -> (rt.maxMemory / (1 << 20)).toString,
      "spark" -> s""""${ctx.spark.version}"""", "java" -> s""""${System.getProperty("java.version")}"""",
      "host" -> s""""$host""""
    ).map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
  }
}
