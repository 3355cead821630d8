package perfbench

/** The cron day on which a date was last probed, as of `today`: the run
  * on day t re-probes [t - 20, t - 1]. */
final case class LastProbe(today: Int) extends (Int => Int) {
  def apply(day: Int): Int = math.min(day + Universe.Lookback, today)
}

/** Which (symbol, day) cells the availability table holds. Days before
  * `days` form the imported base history, which has whole-day probe
  * outages and partial days (a share of symbols unprobed) that the
  * validators must report; later days are the dense daily grid. */
final case class Grid(u: Universe, days: Int) extends ((Int, Int) => Boolean) {
  private def pick(stream: Int, n: Int): Set[Int] = {
    val r = new scala.util.Random(u.seed * 7919 + stream)
    Iterator.continually(3 + r.nextInt(days - 22)).distinct.take(n).toSet
  }
  val outage: Set[Int] = pick(1, 2)
  val partial: Set[Int] = pick(2, 4) -- outage

  def apply(s: Int, day: Int): Boolean =
    day >= days || (!outage(day) && (!partial(day) || Hash.u(u.seed, 20, s, day) < 0.7))

  /** Model cells of the table after the cron run on `today`: every day
    * before it as last probed by then. */
  def cells(today: Int): IndexedSeq[Cell] =
    for (d <- 0 until today; s <- u.syms.indices if apply(s, d))
      yield u.cell(s, d, LastProbe(today)(d))

  def load: Load.Batch = Load.Batch(u, 0 until days, LastProbe(days), this)
}
