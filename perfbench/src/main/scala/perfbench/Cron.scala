package perfbench

import scala.collection.mutable
import org.apache.spark.sql.functions._
import graft.api.AvailabilityQueries
import graft.ops.{Rankings, Store}

/** The reference's write path over one table directory, with a
  * driver-side model to check it.
  *
  * `backfill` bulk-loads the base history: probe and parse every day,
  * write the table partitioned by date, refresh the daily summary, run the
  * full rankings pipeline over the history and export the archive (what
  * `refreshRankingsArchive` does when no archive exists).
  *
  * `tick` is one cron run over the next "today": probe the 20-day lookback
  * window, parse its kline CSV, upsert on (date, symbol) with the latest
  * probe winning, refresh the summary and the rankings archive, then run
  * the continuity and completeness validators. */
final class Cron(ctx: Ctx, val dir: String) {
  import ctx.spark
  import Cron._

  val u: Universe = Universe(ctx.seed)
  val grid: Grid = Grid(u, HistoryDays)
  private val nSyms = u.syms.size
  def table = s"$dir/availability"
  private def summary = s"$dir/summary"
  private def archive = s"$dir/rankings"
  private val today = TableDays
  private val window = (today - Universe.Lookback) until today
  private lazy val tickInput = Load.Batch(u, window, LastProbe(today), grid)

  // Driver-side model: per day (rows, available rows) and archive rows.
  private val dayCounts = mutable.TreeMap.empty[Int, (Long, Long)]
  private val archiveCounts = mutable.TreeMap.empty[Int, Long]
  private var parseOk = 0L
  private var gaps = Seq.empty[java.sql.Date]
  private var incomplete = Seq.empty[String]

  /** A row the rankings archive holds: available with parsed volume. */
  private def archived(s: Int, d: Int, asOf: Int): Boolean =
    u.availableAt(s, d, asOf) && u.hasVolume(s, d) && !u.malformedKline(s, d)

  def rows: Long = grid.load.rows

  /** Model cells of the table after the tick. */
  lazy val cells: IndexedSeq[Cell] = grid.cells(today)

  def backfill(): Unit = {
    val (facts, _) = Load.facts(ctx, grid.load)
    ctx.spans("store.write_partitioned") { Store.writePartitioned(facts, table, "date") }
    val df = spark.read.parquet(table)
    ctx.spans("store.refresh_summary") { Store.refreshSummary(df, "date", col("available"), summary) }
    val daily = df.filter(col("available") && col("quote_volume_usdt").isNotNull)
      .select(col("date"), col("symbol"), col("quote_volume_usdt").as("volume"), col("trade_count"))
    val ranked = ctx.spans("rankings.pipeline") { Rankings.pipeline(daily).localCheckpoint(eager = true) }
    ctx.spans("store.export_parquet") { Store.exportParquet(ranked, archive) }
    val asOf = LastProbe(HistoryDays)
    for (d <- 0 until HistoryDays; s <- u.syms.indices if grid(s, d)) {
      val (t, a) = dayCounts.getOrElse(d, (0L, 0L))
      dayCounts(d) = (t + 1, a + (if (u.availableAt(s, d, asOf(d))) 1 else 0))
      if (archived(s, d, asOf(d))) archiveCounts(d) = archiveCounts.getOrElse(d, 0L) + 1
    }
  }

  def tick(): Unit = {
    val (facts, parsed) = Load.facts(ctx, tickInput)
    parseOk = parsed.filter(col("parse_ok")).count()
    ctx.spans("store.upsert") {
      Store.upsert(spark, table, facts, "date", Seq("date", "symbol"), "probe_timestamp", "url")
    }
    val df = spark.read.parquet(table)
    ctx.spans("store.refresh_summary") {
      Store.refreshSummary(df, "date", col("available"), summary)
    }
    ctx.spans("archive.refresh") {
      AvailabilityQueries.refreshRankingsArchive(spark, spark.read.parquet(table), archive)
    }
    gaps = ctx.spans("validation.continuity") {
      AvailabilityQueries.continuityGaps(spark, df, u.date(0).toString, u.date(today - 1).toString)
        .collect().map(_.getDate(0)).toSeq
    }
    incomplete = ctx.spans("validation.incomplete") {
      AvailabilityQueries.incompleteDates(df, nSyms).collect().map(_.getString(0)).toSeq
    }
    for (d <- window)
      dayCounts(d) = (nSyms.toLong, u.syms.indices.count(s => u.availableAt(s, d, today)).toLong)
    archiveCounts(today - 1) = u.syms.indices.count(s => archived(s, today - 1, today)).toLong
  }

  /** Rows whose stored content the tick changes (beyond the probe time):
    * the new day and every late file that became available. */
  def changedRows: Long = nSyms + window.init.map(d =>
    u.syms.indices.count(s => u.availableAt(s, d, today) != u.availableAt(s, d, today - 1))).sum

  /** (parse_ok rows, kline files) of the tick. */
  def parseCounts: (Long, Long) = (parseOk, tickInput.klines)

  def tickRows: Long = tickInput.rows

  /** New archive rows the tick adds. */
  def newArchiveRows: Long = archiveCounts.getOrElse(today - 1, 0L)

  /** Checks the state after the tick against the model; None when right:
    * one row per generated (date, symbol) with the latest probe's content,
    * the summary equal to the model and to a groupBy of the table, the
    * archive's rows per date, ranks and market shares, the kline parse and
    * both validators. */
  def check(): Option[String] = {
    val df = spark.read.parquet(table)
    val got = df.select("date", "symbol", "available", "probe_timestamp", "quote_volume_usdt")
      .collect().map(r => (u.dayOf(r.getDate(0).toLocalDate), u.index(r.getString(1))) ->
        (r.getBoolean(2), r.getTimestamp(3), Option(r.get(4)).map(_.asInstanceOf[Double])))
    val gotMap = got.toMap
    val want = cells.map(c => (c.day, c.sym) -> (c.available, c.probeTs, c.quoteVolume))
    val summaryRows = spark.read.parquet(summary).collect()
      .map(r => u.dayOf(r.getDate(r.fieldIndex("date")).toLocalDate) ->
        (r.getLong(r.fieldIndex("total")), r.getLong(r.fieldIndex("matched")))).toMap
    val summaryVsTable = spark.read.parquet(summary).select("date", "total", "matched")
      .exceptAll(df.groupBy("date").agg(count(lit(1)).as("total"),
        sum(when(col("available"), 1L).otherwise(0L)).as("matched"))).count()
    val arch = spark.read.parquet(archive).groupBy("date")
      .agg(count(lit(1)).as("n"), countDistinct("symbol").as("k"), min("rank").as("r"),
        sum("market_share_pct").as("share")).collect()
    val archRows = arch.map(r => u.dayOf(r.getDate(0).toLocalDate) -> r.getLong(1)).toMap
    val (ok, files) = parseCounts
    val expGaps = grid.outage.toSeq.sorted.map(u.date)
    val expIncomplete = grid.partial.toSeq.sorted.map(d => u.date(d).toString)
    def diff[K, V](a: Map[K, V], b: Map[K, V]) = (a.keySet ++ b.keySet).filter(k => a.get(k) != b.get(k)).take(3)
    if (got.length != gotMap.size) Some(s"${got.length - gotMap.size} duplicate (date, symbol) rows")
    else if (gotMap.size != want.size) Some(s"table has ${gotMap.size} rows, model ${want.size}")
    else want.collectFirst { case (k, v) if !gotMap.get(k).contains(v) =>
        s"row $k is ${gotMap.get(k)}, the latest probe gives $v" }
      .orElse(if (summaryRows != dayCounts.toMap)
        Some(s"summary differs from the model on ${diff(summaryRows, dayCounts.toMap)}") else None)
      .orElse(if (summaryVsTable != 0) Some("summary differs from a groupBy of the table") else None)
      .orElse(if (archRows != archiveCounts.toMap)
        Some(s"archive rows per date differ from the model on ${diff(archRows, archiveCounts.toMap)}") else None)
      .orElse(arch.collectFirst {
        case r if r.getLong(1) != r.getLong(2) || r.getShort(3) < 1 || math.abs(r.getDouble(4) - 100) > 0.01 =>
          s"archive date ${r.getDate(0)} breaks the rank or market-share invariant" })
      .orElse(if (ok != files - tickInput.malformed) Some(s"parse_ok rows $ok, model ${files - tickInput.malformed}") else None)
      .orElse(if (gaps != expGaps) Some(s"continuity gaps $gaps, model $expGaps") else None)
      .orElse(if (incomplete != expIncomplete) Some(s"incomplete dates $incomplete, model $expIncomplete") else None)
  }
}

object Cron {
  /** The modules the cron path calls into. */
  val Modules: Set[String] = Set("ingest", "store", "archive", "rankings", "validation")

  /** Per-layer metrics of the write path, from the traced set-up: the
    * backfill build and the cron tick. */
  def layers(build: TraceData, tick: TraceData, cron: Cron, filesWritten: Int,
             partitions: Seq[(String, Int)]): Map[String, Double] = {
    def perSpan(t: TraceData, name: String) = {
      val ss = t.named(name)
      if (ss.isEmpty) 0.0 else ss.map(_.nanos).sum / 1e9 / ss.size
    }
    val upsert = tick.work(tick.jobsUnder(_ == "store.upsert"))
    val arch = tick.work(tick.jobsUnder(_ == "archive.refresh"))
    val rk = build.work(build.jobsUnder(_ == "rankings.pipeline"))
    val (ok, files) = cron.parseCounts
    Map(
      "ingest.probe_s" -> perSpan(tick, "ingest.probe"),
      "ingest.parse_kline_s" -> perSpan(tick, "ingest.parse_kline"),
      "ingest.rows" -> cron.tickRows.toDouble,
      "ingest.parse_ok_ratio" -> ok.toDouble / math.max(1L, files),
      "store.upsert_s" -> perSpan(tick, "store.upsert"),
      "store.upsert_bytes_written" -> upsert.outBytes.toDouble,
      "store.upsert_useful_ratio" -> cron.changedRows.toDouble / math.max(1L, upsert.outRecords),
      "store.files_per_partition" -> partitions.map(_._2).sum.toDouble / math.max(1, partitions.size),
      "store.refresh_summary_s" -> perSpan(tick, "store.refresh_summary"),
      "store.refresh_summary_input_rows" ->
        tick.work(tick.jobsUnder(_ == "store.refresh_summary")).inRecords.toDouble,
      "store.write_partitioned_s" -> perSpan(build, "store.write_partitioned"),
      "store.files_written" -> filesWritten.toDouble,
      "archive.refresh_s" -> perSpan(tick, "archive.refresh"),
      "archive.rows_written" -> arch.outRecords.toDouble,
      "archive.useful_ratio" -> cron.newArchiveRows.toDouble / math.max(1L, arch.outRecords),
      "rankings.pipeline_s" -> perSpan(build, "rankings.pipeline"),
      "rankings.shuffle_write_bytes" -> rk.shuffleBytes.toDouble,
      "rankings.spill_bytes" -> rk.spillBytes.toDouble,
      "validation.continuity_s" -> perSpan(tick, "validation.continuity"),
      "validation.incomplete_s" -> perSpan(tick, "validation.incomplete")) ++
      tick.selfSeconds.filter { case (m, _) => Modules(m) }.map { case (m, v) => s"self.${m}_s" -> v }
  }

  /** Days of base history: more than Spark's 32-path threshold for
    * listing partitions with a distributed job, as real histories are. */
  val HistoryDays = 90
  /** Days the table holds after the cron tick, which adds the newest. */
  val TableDays: Int = HistoryDays + 1
}
