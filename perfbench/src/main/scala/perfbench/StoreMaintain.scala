package perfbench

import java.io.File
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.ops.{KeepBestIndex, KeepBestIndexStore}

/** Seeded document corpus with planted near-duplicate families. Each
  * family is a pair at one similarity level (word 3-shingle Jaccard):
  * exact (1.0), high (0.89), moderate (0.6) and low (0.23, not a
  * duplicate at the 0.5 threshold). */
object Corpus {
  final case class Doc(id: Long, text: String, score: Long)

  /** Tick 0 is the birth batch: one exact pair, so every banding
    * certifies and the store is born at 8 rows per band. Tick 1 holds low
    * pairs only (no duplicates), so 8 rows per band still serves. From
    * tick 2 on, 80% of families are moderate pairs, which 8 and 4 rows per
    * band find too rarely (about 3% and 43% of pairs) for the 60% recall
    * floor while 2 rows per band finds 97%, so the banding moves to 2 once
    * and stays there. */
  def batch(seed: Long, tick: Int, families: Int): Seq[Doc] = {
    def word(f: Int, j: Int) = s"w${Hash.long(seed, 50, tick.toLong * 1000000 + f, j) & 0xffffffL}"
    def words(f: Int, n: Int, from: Int = 0) = (from until from + n).map(word(f, _))
    def id(f: Int, k: Int) = tick * 1000000L + f * 2L + k
    def score(f: Int, k: Int) = Hash.long(seed, 51, id(f, k)) & 1023L
    val fams = if (tick == 0) 1 else families
    (0 until fams).flatMap { f =>
      val u = Hash.u(seed, 52, tick, f)
      val kind =
        if (tick == 0) "exact"
        else if (tick == 1) "low"
        else if (u < 0.8) "moderate" else if (u < 0.85) "high" else "low"
      val (a, b) = kind match {
        case "exact" => val t = words(f, 10); (t, t)
        case "high" => val t = words(f, 20); (t, t.init :+ word(f, 100))
        case "moderate" => val t = words(f, 10); (t, t.take(8) ++ words(f, 2, 100))
        case "low" => val t = words(f, 10); (t, t.take(5) ++ words(f, 5, 100))
      }
      Seq(Doc(id(f, 0), a.mkString(" "), score(f, 0)), Doc(id(f, 1), b.mkString(" "), score(f, 1)))
    }
  }
}

/** `store_maintain`: one operation is one micro-batch into
  * `KeepBestIndexStore.maintainedIngest` on a pointer-managed root, with
  * the re-certification every tick, compaction whenever two batches have
  * accumulated and retention on each flip. `vacuum` runs when the loop
  * ends. */
final class StoreMaintain(ctx: Ctx) extends Workload {
  import ctx.spark
  import StoreMaintain._

  private var n = 0
  private var batches: IndexedSeq[Seq[Corpus.Doc]] = IndexedSeq.empty
  private var root = ""
  private var twinRoot = ""
  private val trajectory = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
  private var lastOut: (Int, Int) = (0, 0)
  private var before: (Int, Int) = (0, -1)
  private var compactions = 0
  private var survivors = 0L
  private var versionsLeft = 0
  private def docs: Long = batches.take(trajectory.size).map(_.size.toLong).sum

  def ops(seconds: Int): Int = { n = math.max(4, math.round(seconds * TicksPerSecond).toInt); n }

  def build(): Unit = {
    root = ctx.dir("store/live")
    batches = (0 until n).map(Corpus.batch(ctx.seed, _, Families))
    KeepBestIndexStore.createLive(spark, root, Tune)
    if (ctx.trace) {
      twinRoot = ctx.dir("twin/live")
      KeepBestIndexStore.createLive(spark, twinRoot, Tune)
    }
  }

  private def frame(b: Seq[Corpus.Doc]): DataFrame = {
    import spark.implicits._
    b.map(d => (d.id, d.text, d.score)).toDF("id", "text", "score")
  }

  private def tick(dir: String, batch: Seq[Corpus.Doc]): (Int, Int) = ctx.spans("kbs.maintained_ingest") {
    KeepBestIndexStore.maintainedIngest(spark, dir, Tune, frame(batch), "id", "text",
      col("score"), compactEvery = Some(CompactEvery), checkEvery = 1, retainSuperseded = Some(0))
  }

  /** Birth, then a moderate-pair tick (compaction and reband) on a small
    * corpus and a throwaway root: JIT and codegen warm-up for every
    * lifecycle step. */
  def warmUp(): Unit = {
    val dir = ctx.dir("store-warm/live")
    KeepBestIndexStore.createLive(spark, dir, Tune)
    Seq(0, 2).foreach(t => tick(dir, Corpus.batch(ctx.seed + 1, t, WarmFamilies)))
    Main.deleteTree(new File(ctx.dir("store-warm")))
  }

  /** (live version, largest committed batch number in it). */
  private def state: (Int, Int) = {
    val v = KeepBestIndexStore.liveVersion(spark, root).getOrElse(-1)
    (v, maxBatch(v))
  }

  private def maxBatch(v: Int): Int =
    Option(new File(root, s"v=$v").listFiles()).toSeq.flatten
      .filter(d => new File(d, "_COMMIT").exists).map(_.getName)
      .collect { case BatchDir(b) => b.toInt }.maxOption.getOrElse(-1)

  def op(i: Int): Long = {
    lastOut = tick(root, batches(i))
    batches(i).size.toLong
  }

  /** Ticks the twin store, which takes the same batches. */
  def twin(i: Int): Option[String] = {
    val out = tick(twinRoot, batches(i))
    if (out != Expected(i)) Some(s"(version, rows per band) is $out, want ${Expected(i)}") else None
  }

  def check(i: Int): Option[String] = {
    trajectory += lastOut
    // An ingest and a compaction each take a batch number in the version
    // that was live when the tick began.
    if (maxBatch(before._1) - before._2 >= 2) compactions += 1
    before = state
    if (lastOut != Expected(i)) Some(s"tick $i (version, rows per band) is $lastOut, want ${Expected(i)}")
    else None
  }

  def finish(): Option[String] = {
    ctx.spans("kbs.vacuum") { KeepBestIndexStore.vacuum(spark, root, keepSuperseded = 0) }
    versionsLeft = Option(new File(root).listFiles()).toSeq.flatten.count(_.getName.startsWith("v="))
    val ids = KeepBestIndexStore.openLive(spark, root, Tune).survivors.select("id")
      .collect().map(_.getLong(0))
    survivors = ids.length.toLong
    val ingested = batches.take(trajectory.size).flatten.map(_.id).toSet
    val families = batches.take(trajectory.size).map(_.size / 2).sum
    if (ids.distinct.length != ids.length) Some("survivor ids are not unique")
    else if (!ids.forall(ingested)) Some("a survivor id was never ingested")
    else if (ids.length < families || ids.length > ingested.size)
      Some(s"${ids.length} survivors outside [$families, ${ingested.size}]")
    else if (rebands < 1) Some("no reband fired")
    else if (compactions < 1) Some("no compaction fired")
    else None
  }

  private def rebands: Int = trajectory.map(_._1).distinct.size - 1

  def footprint(): (Long, Long) = (Disk.bytes(new File(root).getParent), docs)

  def layers(t: TraceData, build: TraceData, warm: TraceData): Map[String, Double] = {
    val kbs = t.jobsUnder(_.startsWith("kbs."))
    def exec(p: String => Boolean) = t.work(kbs.filter(j => p(j.desc))).runMs / 1000.0 / t.ops
    val tracedDocs = t.named("kbs.maintained_ingest").map(s => batches(s.op).size).sum
    Map(
      "kbs.ingest_exec_s" -> exec(_.startsWith("kbs:ingest")),
      "kbs.tuning_exec_s" -> exec(_ == "kbs:birth tuning"),
      "kbs.reband_exec_s" -> exec(_.startsWith("kbs:reband")),
      "kbs.unlabelled_exec_s" -> exec(_.isEmpty),
      "kbs.rebands_fired" -> rebands.toDouble,
      "kbs.compactions" -> compactions.toDouble,
      "kbs.versions_on_disk" -> versionsLeft.toDouble,
      "kbs.bytes_written_per_doc" -> t.work(kbs).outBytes.toDouble / math.max(1, tracedDocs),
      "kbs.survivor_ratio" -> survivors.toDouble / math.max(1L, docs))
  }
}

object StoreMaintain {
  val Families = 60
  val CompactEvery = 2
  val WarmFamilies = 10
  /** Ticks a 4-core host completes per second (a tick takes about 4 s);
    * a run makes at least the 4 ticks of the lifecycle. */
  val TicksPerSecond = 0.25
  /** The corpus fixes the lifecycle: born at 8 rows per band, still 8
    * after the quiet tick, rebanded to 2 (version 1) by the first
    * moderate-pair tick, and 2 from then on. */
  def Expected(i: Int): (Int, Int) = if (i < 2) (0, 8) else (1, 2)
  private val BatchDir = "b=(\\d+)".r
  /** Banding grid and floors of the q_st29 gate: recall at least 60%. */
  val Tune: KeepBestIndex.AutoTune = KeepBestIndex.AutoTune(Seq(2, 4, 8), sampleMod = 1,
    precisionFloorPpm = 0L, recallFloorPpm = 600000L, truthDfCap = None)
}
