package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import graft.api.AvailabilityQueries

/** `query_mix`: one operation is one `AvailabilityQueries` read call over
  * the read-only table, collected to the driver as the CLI does. Dates
  * skew to recent days and symbols to high volume; date point lookups
  * (partition-pruned) sit beside per-symbol scans that cross every date
  * partition. Each result is compared with a driver-side model computed
  * from the generator's cells.
  *
  * Set-up is the reference's write path: the build backfills the base
  * history ([[Cron.backfill]]), and the warm-up runs one daily cron tick
  * ([[Cron.tick]]) on that table and checks it, before a few warm-up
  * reads. The calls then read the table as the tick left it. A traced run
  * attributes both to their layers. */
final class QueryMix(ctx: Ctx) extends Workload {
  import ctx.spark
  import QueryMix._

  private var cron: Cron = _
  private var cronError: Option[String] = None
  private var buildFiles = 0
  private var tickPartitions = Seq.empty[(String, Int)]
  private val u = Universe(ctx.seed)
  private def table = cron.table
  private var calls: IndexedSeq[Call] = IndexedSeq.empty
  private lazy val model: Model = new Model(u, cron.cells)
  private var lastRows: Array[Row] = Array.empty
  private var lastDf: DataFrame = _
  private val perCall = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]

  def ops(seconds: Int): Int = {
    val rounds = math.max(1, math.round(seconds * CallsPerSecond / Call.RoundSize).toInt)
    calls = Call.schedule(u, ctx.seed, rounds, Cron.TableDays)
    calls.size
  }

  def build(): Unit = {
    cron = new Cron(ctx, ctx.dir("query"))
    cron.backfill()
  }

  override def setupRows: Option[Long] = Some(cron.rows)

  /** One cron tick, checked, then one read of each kind of query shape
    * (date lookup, windowed ranking, symbol scan, range count, anti-join,
    * sketch), so each is compiled before the timed loop. */
  def warmUp(): Unit = {
    cron.tick()
    cronError = cron.check().map(e => s"cron tick: $e")
    tickPartitions = Disk.partitions(cron.table)
    Seq("availableSymbolsOnDate", "topSymbolsByVolume", "symbolTimeline", "symbolCountByDateRange",
      "newListings", "volumeQuantileSketch").zipWithIndex.foreach {
      case (f, i) => run(Call.draw(u, ctx.seed + 1, i, Cron.TableDays, f))
    }
  }

  private def run(c: Call): Array[Row] = ctx.spans(s"api.${c.fn}") {
    val df = c.frame(u, spark.read.parquet(table))
    lastDf = df
    df.collect()
  }

  def op(i: Int): Long = { lastRows = run(calls(i)); 1L }

  def check(i: Int): Option[String] = model.check(calls(i), lastRows)

  /** The table is read-only, so the twin makes the same call on it. */
  def twin(i: Int): Option[String] = model.check(calls(i), run(calls(i)))

  def finish(): Option[String] = cronError

  def footprint(): (Long, Long) = (Disk.bytes(table), model.cells.size.toLong)

  /** Files a backfill wrote; files and rows a call's scans read, from the
    * executed plan's metrics. */
  override def afterTracedOp(i: Int): Unit =
    if (i == Harness.WarmOp) ()
    else if (i < 0) buildFiles = Disk.dataFiles(table).size
    else {
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
      val helper = new AdaptiveSparkPlanHelper {}
      val scans = helper.collectWithSubqueries(lastDf.queryExecution.executedPlan) {
        case s: FileSourceScanExec => s
      }
      def metric(name: String) = scans.flatMap(_.metrics.get(name)).map(_.value).sum
      perCall += ((metric("numFiles"), metric("numOutputRows"), lastRows.length.toLong))
    }

  def layers(t: TraceData, build: TraceData, warm: TraceData): Map[String, Double] = {
    val spansOfCalls = t.named("op").flatMap(o => t.children(o.id))
    val fnP50 = Call.Functions.map { f =>
      val ds = t.named(s"api.$f").map(_.nanos / 1e6).sorted
      s"api.${f}_p50_ms" -> (if (ds.isEmpty) 0.0 else Stats.median(ds))
    }
    val returned = perCall.map(_._3).sum
    Cron.layers(build, warm, cron, buildFiles, tickPartitions) ++ fnP50.toMap ++ Map(
      "api.plan_gap_ms" -> spansOfCalls.map(t.planGapMs).sum.toDouble / spansOfCalls.size,
      "api.jobs_per_call" -> t.jobsUnder(_.startsWith("api.")).size.toDouble / spansOfCalls.size,
      "api.files_read_per_call" -> perCall.map(_._1).sum.toDouble / perCall.size,
      "api.rows_examined_per_row_returned" -> perCall.map(_._2).sum.toDouble / math.max(1L, returned))
  }
}

object QueryMix {
  /** Calls a 4-core host completes per second (a call takes about 0.8 s). */
  val CallsPerSecond = 1.3
}

/** One read call: the function and its seeded arguments. */
final case class Call(fn: String, day: Int, sym: Int, span: Int, n: Int) {
  /** The call's arguments: `day` is the date (or a range's last date),
    * `span` the range's length in days before it, `n` a row limit. */
  def frame(u: Universe, df: DataFrame): DataFrame = {
    import AvailabilityQueries._
    val d = u.date(day)
    val lo = u.date(day - span)
    val s = u.names(sym)
    fn match {
      case "availableSymbolsOnDate" => availableSymbolsOnDate(df, d)
      case "symbolsInRange" => symbolsInRange(df, lo, d)
      case "symbolTimeline" => symbolTimeline(df, s)
      case "firstListingDate" => firstListingDate(df, s)
      case "lastAvailableDate" => lastAvailableDate(df, s)
      case "dailyAvailabilityCounts" => dailyAvailabilityCounts(df)
      case "symbolCountByDateRange" => symbolCountByDateRange(df, lo, d)
      case "newListings" => newListings(df, d)
      case "delistings" => delistings(df, d)
      case "topSymbolsByVolume" => topSymbolsByVolume(df, d, n)
      case "volumePercentile" => volumePercentile(df, s, d)
      case "averageVolume" => averageVolume(df, s, lo, d)
      case "marketSummary" => marketSummary(df, d)
      case "volumeTrend" => volumeTrend(df, s, n)
      case "volumeQuantileSketch" => volumeQuantileSketch(df, lo, d)
      case "mostAvailableSymbols" => mostAvailableSymbols(df)
    }
  }
}

object Call {
  /** One round of the mix: (function, calls per round, range days, row
    * limit). Point lookups on one date, per-symbol scans that cross every
    * date partition, and range or whole-table analytics. Every run makes
    * whole rounds with these shapes, so each function's share of the calls
    * and the size of its ranges are the same for every seed; the seed
    * draws the dates, symbols and order. The weights, ranges and skews are
    * this benchmark's assumption, not measured: the reference documents
    * which queries users run (snapshot, timeline, ranges of up to 90 days,
    * full-table analytics, listings) and their latency targets, but not
    * how often each runs. */
  val Mix: Seq[(String, Int, Int, Int)] = Seq(
    ("availableSymbolsOnDate", 2, 0, 0), ("topSymbolsByVolume", 2, 0, 20), ("volumePercentile", 1, 0, 0),
    ("marketSummary", 1, 0, 0), ("newListings", 1, 0, 0), ("delistings", 1, 0, 0),
    ("symbolTimeline", 2, 0, 0), ("firstListingDate", 1, 0, 0), ("lastAvailableDate", 1, 0, 0),
    ("averageVolume", 1, 14, 0), ("volumeTrend", 1, 0, 10),
    ("symbolsInRange", 1, 7, 0), ("symbolCountByDateRange", 1, 14, 0),
    ("dailyAvailabilityCounts", 1, 0, 0), ("volumeQuantileSketch", 1, 30, 0),
    ("mostAvailableSymbols", 1, 0, 0))
  val Functions: Seq[String] = Mix.map(_._1)
  val RoundSize: Int = Mix.map(_._2).sum

  /** `rounds` rounds of calls in a seeded order, with seeded arguments. */
  def schedule(u: Universe, seed: Long, rounds: Int, days: Int): IndexedSeq[Call] = {
    val fns = (0 until rounds).flatMap(_ => Mix.flatMap { case (f, k, _, _) => Seq.fill(k)(f) })
    new scala.util.Random(seed).shuffle(fns).zipWithIndex.map { case (f, i) => draw(u, seed, i, days, f) }
  }

  def draw(u: Universe, seed: Long, i: Int, days: Int, fn: String): Call = {
    val (_, _, span, n) = Mix.find(_._1 == fn).get
    // recent days: the newest day is the likeliest
    val day = days - 1 - ((days - span) * math.pow(Hash.u(seed, 41, i), 3)).toInt
    // high-volume symbols: the squared uniform favours the head of the ranking
    val sym = u.byVolume((u.syms.size * math.pow(Hash.u(seed, 42, i), 2)).toInt)
    Call(fn, day, sym, span, n)
  }
}
