package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** One timed interval on the client thread: the benchmark opens a span
  * around each call it makes into a module. `parent` is -1 for an
  * operation's root span; all spans of one operation share `op`. */
final case class Span(id: Int, name: String, op: Int, parent: Int,
                      startMs: Long, endMs: Long, nanos: Long) {
  /** The module a span belongs to: the part of its name before the dot. */
  def module: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder. Spans are recorded only while `on`, so the
  * untraced operations of a traced run pay one branch per call. */
final class Spans {
  val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var op: Int = -1
  var on: Boolean = false

  def apply[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val dt = System.nanoTime() - t0
        stack = stack.tail
        done += Span(id, name, op, parent, ms, System.currentTimeMillis(), dt)
      }
    }
}

/** Task metrics summed over a set of tasks. */
final class Work {
  var tasks, runMs, cpuNs, gcMs, inBytes, inRecords, outBytes, outRecords,
      shuffleBytes, shuffleRecords, fetchWaitMs, spillBytes, schedDelayMs = 0L
  def +=(o: Work): Unit = {
    tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    inBytes += o.inBytes; inRecords += o.inRecords; outBytes += o.outBytes
    outRecords += o.outRecords; shuffleBytes += o.shuffleBytes
    shuffleRecords += o.shuffleRecords; fetchWaitMs += o.fetchWaitMs
    spillBytes += o.spillBytes; schedDelayMs += o.schedDelayMs
  }
}

final case class JobRec(id: Int, startMs: Long, desc: String, stageIds: Seq[Int]) {
  var endMs: Long = -1L
  val work = new Work
  var stages = 0
}

/** The benchmark's own Spark listener: it records every job with its
  * submission time, the description the program gave it, and the summed
  * task metrics of its stages. It is registered only around traced
  * operations. */
final class EngineListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val jobOfStage = mutable.HashMap.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.job.description"))).getOrElse("")
    val j = JobRec(e.jobId, e.time, desc, e.stageIds)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => if (!jobOfStage.contains(s)) jobOfStage(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    jobOfStage.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    for (j <- jobOfStage.get(e.stageId) if m != null) {
      val w = j.work
      val i = e.taskInfo
      w.tasks += 1
      w.runMs += m.executorRunTime
      w.cpuNs += m.executorCpuTime
      w.gcMs += m.jvmGCTime
      w.inBytes += m.inputMetrics.bytesRead
      w.inRecords += m.inputMetrics.recordsRead
      w.outBytes += m.outputMetrics.bytesWritten
      w.outRecords += m.outputMetrics.recordsWritten
      w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      w.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      w.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      w.schedDelayMs += math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
    }
  }
}

/** Joins spans and jobs: each job belongs to the innermost span open at
  * its submission time (there is one client thread, so spans of one level
  * never overlap), which also covers jobs the program submits from its
  * own thread pool. */
final class TraceData(spans: Seq[Span], jobs: Seq[JobRec], val ops: Int) {
  private val byId = spans.map(s => s.id -> s).toMap
  private val depth: Map[Int, Int] = {
    def d(s: Span): Int = if (s.parent < 0) 0 else 1 + d(byId(s.parent))
    spans.map(s => s.id -> d(s)).toMap
  }
  private val childMap = spans.groupBy(_.parent)
  def children(id: Int): Seq[Span] = childMap.getOrElse(id, Nil)

  val owner: Map[Int, Span] = jobs.flatMap { j =>
    spans.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
      .maxByOption(s => (depth(s.id), s.startMs)).map(j.id -> _)
  }.toMap

  private def under(s: Span, names: String => Boolean): Boolean =
    names(s.name) || (s.parent >= 0 && under(byId(s.parent), names))

  /** Jobs owned by spans matching `names` or by their descendants. */
  def jobsUnder(names: String => Boolean): Seq[JobRec] =
    jobs.filter(j => owner.get(j.id).exists(under(_, names)))

  def work(js: Seq[JobRec]): Work = { val w = new Work; js.foreach(w += _.work); w }

  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  /** Self time per module, seconds per traced operation: span time not
    * covered by child spans. */
  def selfSeconds: Map[String, Double] =
    spans.groupBy(_.module).map { case (m, ss) =>
      m -> ss.map(s => s.nanos - children(s.id).map(_.nanos).sum).sum / 1e9 / ops
    }

  /** Wall time of a span not covered by any job of it, in ms. */
  def gapMs(s: Span): Long = {
    val iv = jobs.filter(j => owner.get(j.id).exists(_.op == s.op))
      .map(j => (math.max(j.startMs, s.startMs), math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var cur = (Long.MinValue, Long.MinValue)
    iv.foreach { case (a, b) =>
      if (a > cur._2) { if (cur._2 > cur._1) covered += cur._2 - cur._1; cur = (a, b) }
      else cur = (cur._1, math.max(cur._2, b))
    }
    if (cur._2 > cur._1) covered += cur._2 - cur._1
    math.max(0L, (s.endMs - s.startMs) - covered)
  }

  /** Call start to first job submission, in ms (no job: the whole call). */
  def planGapMs(s: Span): Long = {
    val starts = jobs.filter(j => owner.get(j.id).exists(_.id == s.id))
      .map(_.startMs)
    if (starts.isEmpty) s.endMs - s.startMs else math.max(0L, starts.min - s.startMs)
  }

  /** Spans and jobs as JSON lines, written when the run ends. */
  def jsonLines: Iterator[String] = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    spans.iterator.map(s =>
      s"""{"span":${s.id},"name":${q(s.name)},"op":${s.op},"parent":${s.parent},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"ns":${s.nanos}}""") ++
    jobs.iterator.map(j =>
      s"""{"job":${j.id},"desc":${q(j.desc)},"start_ms":${j.startMs},"end_ms":${j.endMs},""" +
        s""""span":${owner.get(j.id).map(_.id).getOrElse(-1)},"stages":${j.stages},"tasks":${j.work.tasks},""" +
        s""""run_ms":${j.work.runMs},"cpu_ns":${j.work.cpuNs},"gc_ms":${j.work.gcMs}}""")
  }
}
