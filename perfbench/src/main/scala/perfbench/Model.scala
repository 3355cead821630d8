package perfbench

import java.sql.{Date, Timestamp}
import org.apache.spark.sql.Row

/** A value the engine computes in floating point, compared within `tol`. */
final case class Approx(v: Double, tol: Double)

/** Driver-side model of every `AvailabilityQueries` read function in the
  * mix, computed from the generator's cells without Spark. */
final class Model(u: Universe, val cells: IndexedSeq[Cell]) {
  private val byDay = cells.groupBy(_.day)
  private val bySym = cells.groupBy(_.sym).map { case (s, cs) => s -> cs.sortBy(_.day) }
  private def day(d: Int) = byDay.getOrElse(d, IndexedSeq.empty)
  private def sym(s: Int) = bySym.getOrElse(s, IndexedSeq.empty)
  private def name(c: Cell) = u.names(c.sym)
  private def date(d: Int): Date = u.date(d)
  private def availableOn(d: Int): Set[Int] = day(d).filter(_.available).map(_.sym).toSet

  /** Spark orders strings by their UTF-8 bytes. */
  private val utf8: Ordering[String] = (a: String, b: String) => {
    val x = a.getBytes("UTF-8")
    val y = b.getBytes("UTF-8")
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n && x(i) == y(i)) i += 1
    if (i < n) (x(i) & 0xff) - (y(i) & 0xff) else x.length - y.length
  }
  private def sortedNames(ss: Iterable[Int]): Seq[String] = ss.map(u.names).toSeq.sorted(utf8)

  private def round2(x: Double) = Approx(
    BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble, 0.0100001)
  private def exact(x: Double) = Approx(x, 1e-9 * math.max(1.0, math.abs(x)))
  private def decimalSum(vs: Seq[Double]): Double = vs.map(BigDecimal(_)).sum.toDouble
  private def counts(cs: Iterable[Cell]): Seq[Seq[Any]] =
    cs.filter(_.available).groupBy(_.day).toSeq.sortBy(_._1)
      .map { case (d, g) => Seq(date(d), g.size.toLong) }

  /** The day's volume cohort, ranked as SQL RANK() over volume desc. */
  private def cohort(d: Int): Seq[(Cell, Int)] = {
    val vs = day(d).filter(c => c.available && c.quoteVolume.nonEmpty)
      .sortBy(c => (-c.quoteVolume.get, u.names(c.sym)))(Ordering.Tuple2(Ordering.Double.TotalOrdering, utf8))
    vs.map(c => c -> (1 + vs.count(_.quoteVolume.get > c.quoteVolume.get)))
  }

  def expected(c: Call): Either[Seq[Seq[Any]], Seq[Row] => Option[String]] = {
    val d = c.day
    val lo = c.day - c.span
    def inRange(x: Cell) = x.day >= lo && x.day <= d
    c.fn match {
      case "availableSymbolsOnDate" => Left(day(d).filter(_.available).sortBy(name)(utf8)
        .map(x => Seq(name(x), x.fileSize.get, x.lastModified.get)))
      case "symbolsInRange" => Left(sortedNames(cells.filter(x => inRange(x) && x.available)
        .map(_.sym).distinct).map(Seq(_)))
      case "symbolTimeline" => Left(sym(c.sym).map(x =>
        Seq(date(x.day), x.available, x.fileSize.getOrElse(null))))
      case "firstListingDate" => Left(Seq(Seq(sym(c.sym).find(_.available).map(x => date(x.day)).orNull)))
      case "lastAvailableDate" => Left(Seq(Seq(sym(c.sym).reverse.find(_.available).map(x => date(x.day)).orNull)))
      case "dailyAvailabilityCounts" => Left(counts(cells))
      case "symbolCountByDateRange" => Left(counts(cells.filter(inRange)))
      case "newListings" =>
        val before = cells.filter(x => x.day < d && x.available).map(_.sym).toSet
        Left(sortedNames(availableOn(d) -- before).map(Seq(_)))
      case "delistings" => Left(sortedNames(availableOn(d - 1) -- availableOn(d)).map(Seq(_)))
      case "topSymbolsByVolume" =>
        val co = cohort(d)
        val total = co.map(_._1.quoteVolume.get).sum
        Left(co.take(c.n).map { case (x, r) =>
          Seq(name(x), exact(x.quoteVolume.get), x.tradeCount.get, r,
            round2(x.quoteVolume.get / total * 100), round2((co.size - r) * 100.0 / co.size))
        })
      case "volumePercentile" =>
        val co = cohort(d)
        Left(co.filter(_._1.sym == c.sym).map { case (x, r) =>
          Seq(name(x), r, co.size.toLong, round2((co.size - r) * 100.0 / co.size)) })
      case "averageVolume" =>
        val vs = sym(c.sym).filter(x => inRange(x)).flatMap(_.quoteVolume)
        Left(Seq(if (vs.isEmpty) Seq(null, 0L, null, null)
          else Seq(exact(decimalSum(vs) / vs.size), vs.size.toLong, vs.min, vs.max)))
      case "marketSummary" =>
        val xs = day(d).filter(_.quoteVolume.nonEmpty)
        val vs = xs.map(_.quoteVolume.get)
        Left(Seq(if (xs.isEmpty) Seq(null, null, 0L, null)
          else Seq(exact(decimalSum(vs)), xs.map(_.tradeCount.get).sum, xs.size.toLong,
            exact(decimalSum(vs) / vs.size))))
      case "volumeTrend" => Left(sym(c.sym).filter(_.quoteVolume.nonEmpty).reverse.take(c.n)
        .map(x => Seq(date(x.day), x.quoteVolume.get, x.tradeCount.get)))
      case "volumeQuantileSketch" =>
        val per = cells.filter(x => inRange(x) && x.quoteVolume.nonEmpty).groupBy(_.sym)
        Left(per.keys.toSeq.sortBy(u.names)(utf8).map { s =>
          val vs = per(s).map(_.quoteVolume.get).sorted
          def q(p: Int) = vs((p * vs.size + 99) / 100 - 1)
          Seq(u.names(s), vs.size.toLong, q(50), q(90), q(99))
        })
      case "mostAvailableSymbols" =>
        val days = cells.filter(_.available).groupBy(_.sym).map { case (s, g) => u.names(s) -> g.size.toLong }
        Right { rows =>
          val got = rows.map(r => (r.getString(0), r.getAs[Number](1).longValue, r.getAs[Number](2).longValue))
          val order = got.sortBy(g => (-g._2, g._1))(Ordering.Tuple2(Ordering.Long, utf8))
          if (got.size > 20 || got.isEmpty) Some(s"${got.size} rows, want 1 to 20")
          else if (got != order) Some("rows not ordered by (min_days desc, symbol)")
          else got.collectFirst { case (s, lb, ub) if !(lb <= days.getOrElse(s, 0L) && days.getOrElse(s, 0L) <= ub) =>
            s"$s: true days ${days.getOrElse(s, 0L)} outside [$lb, $ub]" }
        }
    }
  }

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Double, Approx(v, t)) => math.abs(x - v) <= t
    case (x: Float, Approx(v, t)) => math.abs(x - v) <= t
    case (x: Date, y: Date) => x.toString == y.toString
    case (x: Timestamp, y: Timestamp) => x.getTime == y.getTime
    case (x, y) => x == y
  }

  /** None when `rows` is the call's correct result. */
  def check(c: Call, rows: Array[Row]): Option[String] = expected(c) match {
    case Right(verify) => verify(rows.toSeq).map(e => s"${c.fn}: $e")
    case Left(want) =>
      if (rows.length != want.size) Some(s"$c returned ${rows.length} rows, model ${want.size}")
      else rows.iterator.zip(want.iterator).zipWithIndex.collectFirst {
        case ((r, w), i) if r.length != w.size || !r.toSeq.zip(w).forall { case (a, b) => same(a, b) } =>
          s"$c row $i is ${r.toSeq.mkString("(", ", ", ")")}, model ${w.mkString("(", ", ", ")")}"
      }
  }
}
