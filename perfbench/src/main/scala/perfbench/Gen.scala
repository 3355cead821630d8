package perfbench

import java.sql.{Date, Timestamp}
import java.time.LocalDate

/** Seeded input generator. Every value is a pure function of
  * (seed, stream, keys) through a SplitMix64 finaliser, so the in-process
  * prober (running inside Spark tasks), the kline CSV source and the
  * driver-side model compute the same cell independently and in any order.
  */
object Hash {
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def long(seed: Long, stream: Int, a: Long, b: Long = 0L): Long =
    mix(mix(mix(seed * 31 + stream) ^ a) ^ b)
  /** Uniform in [0, 1). */
  def u(seed: Long, stream: Int, a: Long, b: Long = 0L): Double =
    (long(seed, stream, a, b) >>> 11) * (1.0 / (1L << 53))
}

/** One symbol of the generated universe. Days are offsets from
  * [[Universe.Epoch]]; `delistDay` is exclusive. */
final case class Sym(name: String, listDay: Int, delistDay: Int, volScale: Double)

/** One (date, symbol) cell as a probe at cron day `asOf` sees it, with its
  * parsed kline metrics. `quoteVolume` is None for the 2019 gap, for
  * unavailable files and for malformed kline CSV. */
final case class Cell(day: Int, sym: Int, available: Boolean,
                      fileSize: Option[Long], lastModified: Option[Timestamp],
                      probeTs: Timestamp, quoteVolume: Option[Double],
                      tradeCount: Option[Long])

/** The symbol universe and the availability/kline model (SURVEY §1.1):
  * 939 perpetual symbols (one of them Unicode) and 50 delivery symbols
  * with a `_YYMMDD` suffix, listing and delisting churn, a dense grid with
  * `available=false` rows, null volume before 2020 (ADR-0007), and files
  * published up to three days late (the T+3 lag), so re-probes flip rows.
  */
final case class Universe(seed: Long, syms: IndexedSeq[Sym]) {
  import Universe._

  def date(day: Int): Date = Date.valueOf(Epoch.plusDays(day.toLong))
  def localDate(day: Int): LocalDate = Epoch.plusDays(day.toLong)
  def dayOf(d: LocalDate): Int = (d.toEpochDay - Epoch.toEpochDay).toInt

  def listed(s: Int, day: Int): Boolean =
    syms(s).listDay <= day && day < syms(s).delistDay

  /** Days after `day + 1` before the file is published (0 for most). */
  def lag(s: Int, day: Int): Int =
    if (Hash.u(seed, 1, s, day) < 0.08) 1 + (Hash.u(seed, 2, s, day) * 3).toInt else 0

  def neverPublished(s: Int, day: Int): Boolean = Hash.u(seed, 3, s, day) < 0.003

  def availableAt(s: Int, day: Int, asOf: Int): Boolean =
    listed(s, day) && !neverPublished(s, day) && asOf >= day + 1 + lag(s, day)

  /** The cron run on `asOf` probes [asOf - Lookback, asOf - 1]; a date's
    * last probe on or before `today` is therefore this day. */
  def lastProbe(day: Int, today: Int): Int = math.min(day + Lookback, today)

  def probeTs(asOf: Int): Timestamp =
    Timestamp.valueOf(localDate(asOf).atTime(3, 0))

  /** Malformed 1d-kline CSV (wrong field count) for a few files. */
  def malformedKline(s: Int, day: Int): Boolean = Hash.u(seed, 6, s, day) < 0.004

  def hasVolume(s: Int, day: Int): Boolean = day >= FirstVolumeDay

  private def price(s: Int): Double =
    math.pow(10, Hash.u(seed, 7, s) * 5 - 1)

  /** The day's quote volume in USDT, as the kline file states it. */
  private def quoteVolume(s: Int, day: Int): BigDecimal = {
    val noise = 0.4 + 1.2 * Hash.u(seed, 8, s, day)
    BigDecimal(syms(s).volScale * noise).setScale(2, BigDecimal.RoundingMode.HALF_UP)
  }

  private def trades(s: Int, day: Int, qv: BigDecimal): Long =
    (qv / 2000).toLong + 1 + (Hash.u(seed, 10, s, day) * 100).toLong

  /** The 12 positional fields of the day's 1d kline, as text. */
  def klineFields(s: Int, day: Int): Array[String] = {
    val qv = quoteVolume(s, day)
    val p = price(s)
    val open = BigDecimal(p * (0.95 + 0.1 * Hash.u(seed, 9, s, day))).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    val high = open * BigDecimal("1.05")
    val low = open * BigDecimal("0.95")
    val close = BigDecimal(p).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    val base = (qv / open).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    val takerBase = (base * BigDecimal("0.48")).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    val takerQuote = (qv * BigDecimal("0.48")).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    val openMs = localDate(day).toEpochDay * 86400000L
    Array(openMs.toString, open.toString, high.toString, low.toString, close.toString,
      base.toString, (openMs + 86399999L).toString, qv.toString, trades(s, day, qv).toString,
      takerBase.toString, takerQuote.toString, "0")
  }

  /** The 1d-kline CSV file text: half carry the header row. */
  def klineCsv(s: Int, day: Int): String = {
    val f = klineFields(s, day)
    val row = (if (malformedKline(s, day)) f.dropRight(1) else f).mkString(",")
    if (Hash.u(seed, 11, s, day) < 0.5) KlineHeader + "\n" + row + "\n" else row + "\n"
  }

  /** The model cell, exactly as the program should store it. */
  def cell(s: Int, day: Int, asOf: Int): Cell = {
    val av = availableAt(s, day, asOf)
    val lm = if (av) Some(Timestamp.valueOf(localDate(day + 1 + lag(s, day))
      .atTime(0, 5).plusSeconds((Hash.u(seed, 4, s, day) * 3600).toLong))) else None
    val size = if (av) Some(20000L + (Hash.u(seed, 5, s, day) * 4e6).toLong) else None
    val vol = av && hasVolume(s, day) && !malformedKline(s, day)
    val qv = if (vol) quoteVolume(s, day) else null
    Cell(day, s, av, size, lm, probeTs(asOf),
      if (vol) Some(qv.toString.toDouble) else None,
      if (vol) Some(trades(s, day, qv)) else None)
  }

  /** The in-process prober: `Ingest.ProbeResult` for a cron run on `asOf`. */
  def probe(symbol: String, d: LocalDate, asOf: Int, index: Map[String, Int]): graft.ingest.ProbeResult = {
    val s = index(symbol)
    val c = cell(s, dayOf(d), asOf)
    graft.ingest.ProbeResult(symbol, Date.valueOf(d), c.available, c.fileSize,
      c.lastModified, url(symbol, d), if (c.available) 200 else 404, c.probeTs)
  }

  def url(symbol: String, d: LocalDate): String = {
    val enc = graft.ingest.Ingest.percentEncode(symbol)
    s"https://data.binance.vision/data/futures/um/daily/klines/$enc/1m/$enc-1m-$d.zip"
  }

  lazy val names: IndexedSeq[String] = syms.map(_.name)
  lazy val index: Map[String, Int] = names.zipWithIndex.toMap
  /** Symbol indices ordered by volume scale, largest first. */
  lazy val byVolume: IndexedSeq[Int] = syms.indices.sortBy(i => -syms(i).volScale)
}

object Universe {
  /** Day 0. The first twelve days fall in the 2019 no-volume gap. */
  val Epoch: LocalDate = LocalDate.of(2019, 12, 20)
  val FirstVolumeDay: Int = 12
  val Lookback: Int = 20
  val KlineHeader: String = "open_time,open,high,low,close,volume,close_time," +
    "quote_volume,count,taker_buy_volume,taker_buy_quote_volume,ignore"

  val Perpetual = 939
  val Delivery = 50

  def apply(seed: Long): Universe = {
    val rnd = new scala.util.Random(seed)
    val fixed = Seq("BTCUSDT", "ETHUSDT", "币安人生USDT")
    val seen = scala.collection.mutable.LinkedHashSet(fixed: _*)
    while (seen.size < Perpetual) {
      val len = 2 + rnd.nextInt(5)
      seen += (0 until len).map(_ => ('A' + rnd.nextInt(26)).toChar).mkString + "USDT"
    }
    val perp = seen.toIndexedSeq
    // Zipf-like volume by a seeded rank permutation; BTC and ETH lead.
    val ranks = (0 until 2) ++ rnd.shuffle((2 until Perpetual).toIndexedSeq)
    val perpSyms = perp.indices.map { i =>
      val churn = rnd.nextDouble()
      val list = if (churn < 0.8 || i < 3) -1000 else rnd.nextInt(400)
      val delist = if (i >= 3 && rnd.nextDouble() < 0.05) list.max(0) + 10 + rnd.nextInt(300)
        else Int.MaxValue
      Sym(perp(i), list, delist, 4e9 / math.pow(ranks(i) + 1.0, 1.1))
    }
    // Quarterly delivery contracts on the top bases: listed 90 days
    // before expiry, delisted the day after.
    val deliv = (0 until Delivery).map { j =>
      val base = perp(j % 25).stripSuffix("USDT")
      val expiry = -60 + (j / 25) * 91 + (j % 25) * 7 + rnd.nextInt(7)
      val tag = Epoch.plusDays(expiry.toLong).format(java.time.format.DateTimeFormatter.ofPattern("yyMMdd"))
      Sym(s"${base}USDT_$tag", expiry - 90, expiry + 1, 2e8 / (j + 1))
    }
    Universe(seed, perpSyms ++ deliv)
  }
}
