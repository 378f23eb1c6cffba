package perfbench

/** Independent output checks. Each takes plain values on both sides (what
  * the benchmark generated or modelled, and what the program returned) and
  * returns the mismatches it found; an empty result is a pass. None of them
  * calls into the program, so a fault there cannot hide in its own check. */
object Checks {

  /** One generated trade: symbol index, event time, price in cents, quantity. */
  final case class Trade(sym: Int, tsMs: Long, cents: Long, qty: Int)

  /** One silver row as committed, with the batch that emitted it. */
  final case class SilverRow(windowStartMs: Long, windowEndMs: Long, symbol: String,
      volatility: Double, averagePrice: Double, processedMs: Long,
      predicted: Double, batchId: Long)

  /** One gold row: per (symbol, minute of processed_time). */
  final case class GoldRow(symbol: String, minuteMs: Long, avg: Double, max: Double,
      min: Double, count: Long)

  /** Per-symbol totals: trade count, price sum in cents, quantity sum. */
  final case class Totals(count: Long, cents: Long, qty: Long)

  def close(a: Double, b: Double, tol: Double): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.abs(b))

  def symbolName(i: Int): String = f"SYM$i%02d"

  def totals(trades: Iterable[Trade]): Map[String, Totals] =
    trades.groupBy(_.sym).map { case (s, ts) =>
      symbolName(s) -> Totals(ts.size.toLong, ts.iterator.map(_.cents).sum, ts.iterator.map(_.qty.toLong).sum)
    }

  /** Bronze must hold exactly the generated trades: same count and sums per symbol. */
  def bronze(expected: Map[String, Totals], got: Map[String, Totals]): Seq[String] =
    (expected.keySet ++ got.keySet).toSeq.sorted.flatMap { s =>
      (expected.get(s), got.get(s)) match {
        case (Some(e), Some(g)) if e == g => None
        case (e, g) => Some(s"bronze $s: generated $e, table holds $g")
      }
    }

  private val slideMs = 30000L
  private val windowMs = 60000L

  /** The sliding 1-minute / 30-second windows holding `tsMs`, by start. */
  def windowStarts(tsMs: Long): Seq[Long] = {
    val last = Math.floorDiv(tsMs, slideMs) * slideMs
    Seq(last - slideMs, last)
  }

  /** Running count, mean, sum of squared deviations (Welford) and newest
    * event time of one window's prices. */
  private final class Acc {
    var n = 0L; var mean = 0.0; var m2 = 0.0; var maxTs = Long.MinValue
    def add(t: Trade): Unit = {
      val x = t.cents / 100.0
      n += 1
      val d = x - mean
      mean += d / n
      m2 += d * (x - mean)
      maxTs = math.max(maxTs, t.tsMs)
    }
    def sd: Double = math.sqrt(m2 / n)
  }

  /** The last-emitted silver row of each (window, symbol) must equal avg and
    * stddev_pop over that window's generated trades; every window that got a
    * trade must have been emitted, and no other. */
  def silver(trades: Iterable[Trade], rows: Seq[SilverRow]): Seq[String] = {
    val expected = scala.collection.mutable.HashMap.empty[(Long, String), Acc]
    trades.foreach(t => windowStarts(t.tsMs).foreach(w =>
      expected.getOrElseUpdate((w, symbolName(t.sym)), new Acc).add(t)))
    val last = rows.groupBy(r => (r.windowStartMs, r.symbol)).map { case (k, v) => k -> v.maxBy(_.batchId) }
    val missing = (expected.keySet -- last.keySet).toSeq.sorted.take(5)
      .map { case (w, s) => s"silver: window $w $s got trades but no row" }
    val extra = (last.keySet -- expected.keySet).toSeq.sorted.take(5)
      .map { case (w, s) => s"silver: row for window $w $s that got no trade" }
    val wrong = expected.toSeq.sortBy(_._1).flatMap { case (k, a) =>
      last.get(k).flatMap { r =>
        if (r.windowEndMs - r.windowStartMs == windowMs && close(r.averagePrice, a.mean, 1e-9) &&
            close(r.volatility, a.sd, 1e-7) && r.processedMs == a.maxTs) None
        else Some(s"silver ${k._1} ${k._2}: row (avg=${r.averagePrice}, sd=${r.volatility}, " +
          s"max_ts=${r.processedMs}, batch=${r.batchId}) but trades give (avg=${a.mean}, sd=${a.sd}, max_ts=${a.maxTs})")
      }
    }.take(5)
    missing ++ extra ++ wrong
  }

  /** Each predicted_price must equal intercept + slope·volatility. */
  def predictions(rows: Seq[SilverRow], intercept: Double, slope: Double): Seq[String] =
    rows.filterNot(r => close(r.predicted, intercept + slope * r.volatility, 1e-9)).take(5).map { r =>
      s"prediction ${r.windowStartMs} ${r.symbol}: ${r.predicted} != $intercept + $slope * ${r.volatility}"
    }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Plain rollup of silver rows: per (symbol, minute of processed_time). */
  def rollup(rows: Seq[SilverRow]): Seq[GoldRow] =
    rows.groupBy(r => (r.symbol, Math.floorDiv(r.processedMs, 60000L) * 60000L)).toSeq.map {
      case ((s, m), rs) =>
        val xs = rs.map(_.averagePrice)
        GoldRow(s, m, round6(xs.sum / xs.length), round6(xs.max), round6(xs.min), xs.length.toLong)
    }.sortBy(g => (-g.minuteMs, g.symbol))

  /** A gold refresh must equal the plain rollup of the silver rows it read;
    * values agree to the 6-decimal rounding both sides apply. */
  def gold(silverRead: Seq[SilverRow], got: Seq[GoldRow]): Seq[String] = {
    val exp = rollup(silverRead).map(g => (g.symbol, g.minuteMs) -> g).toMap
    val have = got.map(g => (g.symbol, g.minuteMs) -> g).toMap
    if (have.size != got.size) return Seq(s"gold: ${got.size - have.size} duplicate (symbol, minute) rows")
    val keys = (exp.keySet ++ have.keySet).toSeq.sorted
    keys.flatMap { k =>
      (exp.get(k), have.get(k)) match {
        case (Some(e), Some(g)) if e.count == g.count && close(g.avg, e.avg, 2e-6) &&
            close(g.max, e.max, 2e-6) && close(g.min, e.min, 2e-6) => None
        case (e, g) => Some(s"gold $k: expected $e, refresh returned $g")
      }
    }.take(5)
  }

  /** One table row in the table_dml workload (the sf0.1 events schema). */
  final case class Event(id: Long, tsMicros: Long, user: Long, kind: String, value: Double, props: String)

  /** A read must return exactly the model's rows. */
  def sameRows(what: String, expected: Seq[Event], got: Seq[Event]): Seq[String] = {
    val e = expected.sortBy(_.id)
    val g = got.sortBy(_.id)
    if (e == g) Nil
    else {
      val eIds = e.map(_.id).toSet
      val gIds = g.map(_.id).toSet
      val extra = (gIds -- eIds).toSeq.sorted.take(3)
      val missing = (eIds -- gIds).toSeq.sorted.take(3)
      val changed = g.filter(r => eIds(r.id) && !e.contains(r)).take(3)
      Seq(s"$what: ${g.size} rows, model has ${e.size}; unexpected ids $extra, missing ids $missing, " +
        s"changed rows $changed")
    }
  }

  /** Per-kind (count, sum of value) aggregate, as the scan op computes it. */
  def aggregate(rows: Iterable[Event]): Map[String, (Long, Double)] =
    rows.groupBy(_.kind).map { case (k, v) => k -> (v.size.toLong, v.iterator.map(_.value).sum) }

  def sameAggregate(what: String, expected: Map[String, (Long, Double)],
      got: Map[String, (Long, Double)]): Seq[String] = {
    val ok = expected.keySet == got.keySet && expected.forall { case (k, (n, s)) =>
      got(k)._1 == n && close(got(k)._2, s, 1e-9)
    }
    if (ok) Nil else Seq(s"$what: got $got, model has $expected")
  }
}
