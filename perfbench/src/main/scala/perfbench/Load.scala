package perfbench

import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import graft.ingest.{Ingest, ProbeResult}

/** The ingest path every availability workload drives: the seeded
  * in-process prober through `Ingest.probeDomain`, the seeded 1d-kline CSV
  * text through `Ingest.parseKlineCsv`, joined into the 17-column fact row.
  * The prober and the kline source stand in for the network, so they run
  * inside Spark tasks and inside the ingest spans. Probe and parse results
  * are materialised in their spans so the trace attributes their cost to
  * `ingest`. */
object Load {
  /** The fact table's columns, in `AvailabilityRecord` order. */
  val FactColumns: Seq[String] = Seq("date", "symbol", "available", "file_size_bytes",
    "last_modified", "url", "status_code", "probe_timestamp", "quote_volume_usdt",
    "trade_count", "volume_base", "taker_buy_volume_base", "taker_buy_quote_volume_usdt",
    "open_price", "high_price", "low_price", "close_price")

  /** One load: `days` × the grid's symbols, each day probed on `asOf(day)`.
    * `rows` counts the cells, `klines` the kline files (available days
    * with volume) and `malformed` those with broken CSV. */
  final case class Batch(u: Universe, days: Seq[Int], asOf: Int => Int,
                         grid: (Int, Int) => Boolean) {
    private def cells = for (d <- days.iterator; s <- u.syms.indices.iterator if grid(s, d)) yield (s, d)
    private def kline(s: Int, d: Int) = u.availableAt(s, d, asOf(d)) && u.hasVolume(s, d)
    lazy val rows: Long = cells.size.toLong
    lazy val klines: Long = cells.count { case (s, d) => kline(s, d) }.toLong
    lazy val malformed: Long = cells.count { case (s, d) => kline(s, d) && u.malformedKline(s, d) }.toLong

    /** Runs the prober over the dates × all symbols, keeping grid cells. */
    def probe(spark: SparkSession, parallelism: Int): Dataset[ProbeResult] = {
      val (uu, at, g) = (u, asOf, grid)
      Ingest.probeDomain(spark, days.map(u.localDate), u.names, parallelism) {
        (sym: String, d: LocalDate) => uu.probe(sym, d, at(uu.dayOf(d)), uu.index)
      }.filter((r: ProbeResult) => g(uu.index(r.symbol), uu.dayOf(r.date.toLocalDate)))
    }

    /** The kline files of the batch as (symbol, date, csv) rows, generated
      * in Spark tasks. */
    def klineFiles(spark: SparkSession, parallelism: Int): DataFrame = {
      import spark.implicits._
      val (uu, at, g) = (u, asOf, grid)
      spark.sparkContext.parallelize(days, parallelism).flatMap { d =>
        uu.syms.indices.iterator
          .filter(s => g(s, d) && uu.availableAt(s, d, at(d)) && uu.hasVolume(s, d))
          .map(s => (uu.names(s), uu.date(d), uu.klineCsv(s, d)))
      }.toDF("symbol", "date", "csv")
    }
  }

  /** Probe, parse and join, each step materialised in its span. Returns
    * the fact rows and the parsed kline rows. */
  def facts(ctx: Ctx, b: Batch): (DataFrame, DataFrame) = {
    val probed = ctx.spans("ingest.probe") {
      b.probe(ctx.spark, ctx.cores).toDF().localCheckpoint(eager = true)
    }
    val parsed = ctx.spans("ingest.parse_kline") {
      Ingest.parseKlineCsv(b.klineFiles(ctx.spark, ctx.cores), "symbol", "date", "csv")
        .localCheckpoint(eager = true)
    }
    val joined = probed.join(parsed.drop("parse_ok"), Seq("symbol", "date"), "left")
      .select(FactColumns.map(col): _*)
    (joined, parsed)
  }
}
