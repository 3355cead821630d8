package perfbench

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.SparkSession

/** What a workload's run shares with the harness. */
final class Ctx(val spark: SparkSession, val root: File, val seed: Long,
                val trace: Boolean, val spans: Spans) {
  def cores: Int = spark.sparkContext.defaultParallelism
  def dir(name: String): String = new File(root, name).getAbsolutePath
}

/** One benchmark workload: a closed loop of operations from one client
  * thread over state built in set-up. */
trait Workload {
  /** Operations in a run of `seconds`: a fixed count per seed, so every
    * count the run reports repeats exactly. The rate is the one the
    * workload sustains on a 4-core host. */
  def ops(seconds: Int): Int
  /** Generates the inputs and builds the initial state. */
  def build(): Unit
  /** JIT and codegen warm-up, run after the build. */
  def warmUp(): Unit
  /** Runs operation `i`; returns the work units it completed. */
  def op(i: Int): Long
  /** In a traced run, the untraced twin of operation `i`: the same work
    * on state of its own (built alongside the measured state when
    * [[Ctx.trace]] is set). Returns an error when its result is wrong. */
  def twin(i: Int): Option[String]
  /** Checks operation `i`'s result; None when correct. Not timed. */
  def check(i: Int): Option[String]
  /** Whole-state checks after the loop; None when correct. */
  def finish(): Option[String]
  /** On-disk bytes and logical rows of the state the run left behind. */
  def footprint(): (Long, Long)
  /** Layer counts taken after a traced operation (file listings and the
    * like); untimed. The build is operation [[Harness.BuildOp]] and the
    * warm-up [[Harness.WarmOp]]. */
  def afterTracedOp(i: Int): Unit = ()
  /** Rows the build bulk-loads, when the set-up is a backfill. */
  def setupRows: Option[Long] = None
  /** Workload-specific per-layer metrics of the traced operations, the
    * build and the warm-up. */
  def layers(t: TraceData, build: TraceData, warm: TraceData): Map[String, Double]
}

object Main {
  val Workloads: Seq[String] = Seq("query_mix", "store_maintain")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: File)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w (one of ${Workloads.mkString(", ")})")
    Args(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      new File(m.getOrElse("work", ".bench_build")))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    a.work.mkdirs()
    val root = Files.createTempDirectory(a.work.toPath, s"run-${a.workload}-").toFile
    val spark = graft.Sessions.local("perfbench")
    // Start-up counts from JVM launch: wall time since the JVM started,
    // and all CPU time the process has used so far.
    val sessionS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val sessionCpuS = Harness.cpuNs / 1e9
    System.err.println(f"perfbench: JVM and session start $sessionS%.2f s (cpu $sessionCpuS%.2f s)")
    val ctx = new Ctx(spark, root, a.seed, a.trace, new Spans)
    val result =
      try {
        val w: Workload = a.workload match {
          case "query_mix" => new QueryMix(ctx)
          case "store_maintain" => new StoreMaintain(ctx)
        }
        Harness.run(ctx, w, a, sessionS, sessionCpuS)
      } finally {
        spark.stop()
        deleteTree(root)
      }
    result.print(a)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
