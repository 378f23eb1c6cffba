package perfbench

import org.scalatest.funsuite.AnyFunSuite

import Checks._

class ChecksSpec extends AnyFunSuite {

  // two symbols, trades spread over two minutes, one of them late
  private val trades = Seq(
    Trade(0, 1000L, 10000, 5), Trade(0, 20000L, 10100, 1), Trade(1, 31000L, 5000, 7),
    Trade(0, 45000L, 9900, 2), Trade(1, 61000L, 5050, 3), Trade(0, 15000L, 10200, 4))

  /** Silver rows as a correct pipeline emits them: every (window, symbol)
    * once, in batch 1, from all of its trades. */
  private def silverRows(ts: Seq[Trade], batch: Long = 1): Seq[SilverRow] =
    ts.flatMap(t => windowStarts(t.tsMs).map(w => (w, t))).groupBy { case (w, t) => (w, t.sym) }
      .toSeq.map { case ((w, s), g) =>
        val xs = g.map(_._2.cents / 100.0)
        val m = xs.sum / xs.size
        val sd = math.sqrt(xs.map(x => (x - m) * (x - m)).sum / xs.size)
        SilverRow(w, w + 60000, symbolName(s), sd, m, g.map(_._2.tsMs).max, 3.0 + 2.0 * sd, batch)
      }

  test("percentiles interpolate between closest ranks") {
    assert(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 50) == 2.5)
    assert(Stats.percentile(Seq(5.0), 90) == 5.0)
    assert(Stats.percentile((1 to 101).map(_.toDouble), 90) == 91.0)
  }

  test("the tail is the highest percentile with at least ten samples beyond it") {
    assert(Stats.tailPercentile(0).isEmpty)
    assert(Stats.tailPercentile(39).isEmpty)
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(99).contains(75.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(199).contains(90.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(999).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
    assert(Stats.tail((1 to 39).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 100).map(_.toDouble)).map(_._1).contains(90.0))
  }

  test("bronze check rejects a dropped trade") {
    assert(bronze(totals(trades), totals(trades)).isEmpty)
    assert(bronze(totals(trades), totals(trades.tail)).nonEmpty)
  }

  test("silver check accepts the correct rows and rejects a stale last row") {
    val rows = silverRows(trades)
    assert(silver(trades, rows).isEmpty)
    // the late trade (ts 15000) updated windows [-30000, 30000) and [0, 60000)
    // in a later batch; if that batch's row is missing, the last emitted row
    // of the window is stale
    val before = silverRows(trades.init, batch = 1)
    val after = silverRows(trades, batch = 2).filter(r => r.symbol == symbolName(0) && r.windowStartMs <= 0)
    assert(silver(trades, before ++ after).isEmpty)
    assert(silver(trades, before).nonEmpty)
    assert(silver(trades, rows.tail).nonEmpty)
  }

  test("prediction check rejects a wrong predicted_price") {
    val rows = silverRows(trades)
    assert(predictions(rows, 3.0, 2.0).isEmpty)
    assert(predictions(rows.head.copy(predicted = rows.head.predicted + 0.01) +: rows.tail, 3.0, 2.0).nonEmpty)
  }

  test("gold check rejects a refresh that differs from the rows it read") {
    val rows = silverRows(trades)
    val gold = rollup(rows)
    assert(Checks.gold(rows, gold).isEmpty)
    assert(Checks.gold(rows, gold.head.copy(avg = gold.head.avg + 0.001) +: gold.tail).nonEmpty)
    assert(Checks.gold(rows, gold.tail).nonEmpty)
    assert(Checks.gold(rows :+ rows.head.copy(batchId = 9), gold).nonEmpty)
  }

  test("table reads are checked against the model: a resurrected row fails") {
    val live = Seq(Event(1, 0L, 7, "view", 1.5, "{}"), Event(2, 5L, 8, "click", 2.5, "{}"))
    val deleted = Event(3, 9L, 9, "view", 3.5, "{}")
    assert(sameRows("scan", live, live.reverse).isEmpty)
    assert(sameRows("scan", live, live :+ deleted).nonEmpty)
    assert(sameRows("point read", Nil, Seq(deleted)).nonEmpty)
    assert(sameRows("scan", live, Seq(live.head, live(1).copy(value = 2.6))).nonEmpty)
    assert(sameAggregate("agg", aggregate(live), aggregate(live)).isEmpty)
    assert(sameAggregate("agg", aggregate(live), aggregate(live :+ deleted)).nonEmpty)
  }

  test("only the roaring cookie fault of foreign_dv_read counts as the known failure") {
    val cookie = new IllegalArgumentException("requirement failed: roaring: unknown cookie 0")
    assert(TableDml.knownFault("foreign_dv_read", new RuntimeException("job aborted", cookie)))
    assert(!TableDml.knownFault("foreign_dv_read", new java.io.FileNotFoundException("part-00000.parquet")))
    assert(!TableDml.knownFault("point_read", cookie))
  }
}
