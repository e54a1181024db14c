package graft.market

import scala.collection.mutable

/** Input row for the order-book replay kernel (timestamps in epoch µs). */
case class BookEvent(
    pairId: Int,
    ts: Long,
    orderId: Long,
    side: String, // "b" | "s"
    price: Double,
    amount: Double,
    isDeleted: Boolean)

/** Level-1 tick: best bid/ask after an episode (None = empty side). */
case class L1Tick(
    pair_id: Int,
    ts: Long,
    bid_price: Option[Double],
    bid_qty: Option[Double],
    ask_price: Option[Double],
    ask_qty: Option[Double])

/** Effective buy/sell price for a fixed volume after an episode. */
case class TpTick(
    pair_id: Int,
    ts: Long,
    buy_vwap: Option[Double],
    sell_vwap: Option[Double])

/** Level-2 delta: the new total volume at a touched price level. */
case class L2Change(
    pair_id: Int,
    ts: Long,
    side: String,
    price: Double,
    volume: Double)

/** In-memory limit order book, the direct analogue of the reference's C
  * replay engine state (reference: `db/c/obadiah_db/order_book.cpp:22-47`
  * — `map[order_id]` + per-side `map[price -> volume]`). State is O(live
  * orders), independent of history length, which is what makes replay of
  * an unbounded event stream safe on one executor core per group.
  */
final class OrderBook {
  // orderId -> (isBid, price, amount)
  private val orders = mutable.LongMap.empty[(Boolean, Double, Double)]
  private val bids = mutable.TreeMap.empty[Double, Double]
  private val asks = mutable.TreeMap.empty[Double, Double]
  // Per-side running totals (qty, cost in integer cents) so whole-book
  // VWAP is O(1) per episode instead of an O(depth) ladder walk.
  // Amounts are integral (reference rounds by fmu), so delta summation
  // is exact and order-independent — same cents arithmetic as tpWalk.
  private val sumQty = Array(0L, 0L)
  private val sumCostCents = Array(0L, 0L)

  private def levelAdd(isBid: Boolean, price: Double, delta: Double): Unit = {
    val m = if (isBid) bids else asks
    val nv = m.getOrElse(price, 0.0) + delta
    // amounts are exact in Double here; drop empty levels
    if (nv <= 0.0) m.remove(price) else m.update(price, nv)
    val i = if (isBid) 1 else 0
    // symmetric rounding: Math.round is half-toward-+inf, so +0.5 and
    // -0.5 deltas would not cancel and totals would drift on any
    // non-integral amount; sign-split keeps add/delete pairs exact
    val d = if (delta >= 0) math.round(delta) else -math.round(-delta)
    sumQty(i) += d
    sumCostCents(i) += d * math.round(price * 100)
  }

  /** Apply one event: replace the order's previous state; a deletion
    * removes it (reference semantics: '-infinity' forward pointer,
    * `db/obanalytics_schema.sql:149-150`). Returns touched (isBid, price)
    * levels for L2 emission. */
  def apply(e: BookEvent): List[(Boolean, Double)] = {
    var touched: List[(Boolean, Double)] = Nil
    orders.get(e.orderId).foreach { case (ob, op, oa) =>
      levelAdd(ob, op, -oa)
      touched = (ob, op) :: touched
      orders.remove(e.orderId)
    }
    if (!e.isDeleted) {
      val isBid = e.side == "b"
      levelAdd(isBid, e.price, e.amount)
      orders.update(e.orderId, (isBid, e.price, e.amount))
      touched = (isBid, e.price) :: touched
    }
    touched
  }

  def liveOrders: Iterator[(Long, (Boolean, Double, Double))] = orders.iterator
  def bestBid: Option[(Double, Double)] = bids.lastOption
  def bestAsk: Option[(Double, Double)] = asks.headOption
  def volumeAt(isBid: Boolean, price: Double): Double =
    (if (isBid) bids else asks).getOrElse(price, 0.0)
  /** Iterate depth (price -> volume); bids descending, asks ascending. */
  def depth(isBid: Boolean): Iterator[(Double, Double)] =
    if (isBid) bids.iterator.toSeq.reverseIterator else asks.iterator
  def bidLevels: Int = bids.size
  def askLevels: Int = asks.size
  def totalQty(isBid: Boolean): Long = sumQty(if (isBid) 1 else 0)
  def totalCostCents(isBid: Boolean): Long =
    sumCostCents(if (isBid) 1 else 0)
}

/** Book event tagged with its replay slice (see
  * [[MarketOps.slicedEvents]]): `seed = true` rows reconstruct the book
  * standing at the slice boundary and are applied silently before any
  * emission; `hasHistory` is constant per group and marks slices with
  * earlier data for the pair (so emit-on-change dedup can initialize its
  * "last emitted" state from the seeded book instead of emitting
  * unconditionally). */
case class SlicedEvent(
    pairId: Int,
    slice: Long,
    seed: Boolean,
    hasHistory: Boolean,
    ts: Long,
    orderId: Long,
    side: String,
    price: Double,
    amount: Double,
    isDeleted: Boolean,
    event_id: Long) {
  def toBookEvent: BookEvent =
    BookEvent(pairId, ts, orderId, side, price, amount, isDeleted)
}

/** Episode-at-a-time replay over a time-sorted event iterator. An
  * *episode* is the group of events sharing one microtimestamp; emitters
  * observe the book only at episode boundaries (reference:
  * `db/c/obadiah_db/episode.cpp:106-159`, SURVEY §7.4). The iterator is
  * fully streaming: O(book) memory, single pass.
  *
  * Every emitter has a *sliced* variant taking [[SlicedEvent]]s: the
  * leading seed rows rebuild the book standing at the slice boundary
  * (computed declaratively from validity intervals — no upstream replay
  * dependency), so a pair's event history replays as independent
  * (pair, slice) groups whose concatenated output is byte-identical to
  * one sequential pass. Parallelism then grows with data *length*, not
  * the pair count — the property that makes replay viable at 100 TB.
  */
object Replay {

  /** The one episode scan: applies episodes in order to `book`, calling
    * `emit` with (episodeTs, book, touchedLevels) after each episode. */
  private def episodesFrom[T](
      book: OrderBook,
      events: Iterator[BookEvent],
      emit: (Long, OrderBook, List[(Boolean, Double)]) => IterableOnce[T])
      : Iterator[T] = {
    val buf = events.buffered
    new Iterator[Iterator[T]] {
      override def hasNext: Boolean = buf.hasNext
      override def next(): Iterator[T] = {
        val ts = buf.head.ts
        var touched: List[(Boolean, Double)] = Nil
        while (buf.hasNext && buf.head.ts == ts)
          touched = book.apply(buf.next()) reverse_::: touched
        emit(ts, book, touched).iterator
      }
    }.flatten
  }

  /** Silently apply the leading seed rows; returns the seeded book and
    * whether the slice has prior history for this pair. */
  private def seedBook(
      buf: scala.collection.BufferedIterator[SlicedEvent]): (OrderBook, Boolean) = {
    val hasHistory = buf.hasNext && buf.head.hasHistory
    val book = new OrderBook
    while (buf.hasNext && buf.head.seed) book.apply(buf.next().toBookEvent)
    (book, hasHistory)
  }

  private def quoteOf(pairId: Int, ts: Long, book: OrderBook): L1Tick =
    L1Tick(pairId, ts,
      book.bestBid.map(_._1), book.bestBid.map(_._2),
      book.bestAsk.map(_._1), book.bestAsk.map(_._2))

  /** L1 ticks, deduplicated (emit only when the quote changes —
    * reference: `db/c/obadiah_db/depth.cpp:20-75`). */
  def l1(pairId: Int, events: Iterator[BookEvent]): Iterator[L1Tick] =
    l1From(pairId, new OrderBook, null, events)

  /** Slice-parallel L1: output of all (pair, slice) groups concatenated
    * equals [[l1]] over the whole pair stream. */
  def l1Sliced(pairId: Int, events: Iterator[SlicedEvent]): Iterator[L1Tick] = {
    val buf = events.buffered
    val (book, hasHistory) = seedBook(buf)
    val last0 = if (hasHistory) quoteOf(pairId, 0L, book) else null
    l1From(pairId, book, last0, buf.map(_.toBookEvent))
  }

  /** L1 emission continuing from `book` and `last0`, the last emitted
    * quote (null = none yet, so the first episode emits). */
  private[graft] def l1From(pairId: Int, book: OrderBook, last0: L1Tick,
      events: Iterator[BookEvent]): Iterator[L1Tick] = {
    var last: L1Tick = last0
    episodesFrom(book, events, (ts, b, _) => {
      val t = quoteOf(pairId, ts, b)
      if (last == null ||
          t.bid_price != last.bid_price || t.bid_qty != last.bid_qty ||
          t.ask_price != last.ask_price || t.ask_qty != last.ask_qty) {
        last = t; Some(t)
      } else None
    })
  }

  /** Effective-price stream (reference `get.trading_period`,
    * `db/c/obadiah_db/obadiah_db.cpp:495-594`; walk kernel
    * `src/base.h:288-349`): per episode, the VWAP of buying/selling
    * `volumeUnits` by walking the book; None when depth is insufficient.
    * Cost accumulates in integer cents (price quantized to 1e-2) so the
    * result is exact and engine-independent; the final division is one
    * deterministic double op. Emits on change only. */
  def tradingPeriod(pairId: Int, events: Iterator[BookEvent],
      volumeUnits: Long): Iterator[TpTick] =
    tpFrom(pairId, new OrderBook, null, events, volumeUnits)

  /** Slice-parallel trading period (see [[l1Sliced]]). */
  def tradingPeriodSliced(pairId: Int, events: Iterator[SlicedEvent],
      volumeUnits: Long): Iterator[TpTick] = {
    val buf = events.buffered
    val (book, hasHistory) = seedBook(buf)
    val last0 =
      if (hasHistory)
        TpTick(pairId, 0L, tpWalk(book, isBid = false, volumeUnits),
          tpWalk(book, isBid = true, volumeUnits))
      else null
    tpFrom(pairId, book, last0, buf.map(_.toBookEvent), volumeUnits)
  }

  /** Sentinel for the reference's `volume = ∞` mode (whole-book VWAP). */
  val WholeBook: Long = Long.MaxValue

  /** Book walk for one side. Three modes, as in the reference walk
    * kernel (`src/base.h:288-349`): `volumeUnits = 0` → the best price;
    * [[WholeBook]] → VWAP of the entire side; otherwise → VWAP of the
    * first `volumeUnits` units (None when depth is insufficient). */
  private def tpWalk(book: OrderBook, isBid: Boolean,
      volumeUnits: Long): Option[Double] = {
    if (volumeUnits == 0L)
      return (if (isBid) book.bestBid else book.bestAsk).map(_._1)
    if (volumeUnits == WholeBook) {
      // O(1): the book maintains per-side (qty, cost-cents) running
      // sums — identical cents arithmetic to the explicit ladder walk
      val total = book.totalQty(isBid)
      return if (total == 0L) None
      else Some(book.totalCostCents(isBid).toDouble / (100.0 * total))
    }
    var remaining = volumeUnits
    var costCents = 0L
    val it = book.depth(isBid)
    while (remaining > 0 && it.hasNext) {
      val (price, qty) = it.next()
      val take = math.min(qty.toLong, remaining)
      costCents += take * math.round(price * 100)
      remaining -= take
    }
    if (remaining > 0) None
    else Some(costCents.toDouble / (100.0 * volumeUnits))
  }

  private def tpFrom(pairId: Int, book: OrderBook, last0: TpTick,
      events: Iterator[BookEvent], volumeUnits: Long): Iterator[TpTick] = {
    var last: TpTick = last0
    episodesFrom(book, events, (ts, b, _) => {
      val t = TpTick(pairId, ts, tpWalk(b, isBid = false, volumeUnits),
        tpWalk(b, isBid = true, volumeUnits))
      if (last == null || t.buy_vwap != last.buy_vwap ||
          t.sell_vwap != last.sell_vwap) {
        last = t; Some(t)
      } else None
    })
  }

  /** L2 depth changes: new total volume at every touched price level
    * whose total actually changed (reference:
    * `db/c/obadiah_db/order_book.cpp:59-173`). */
  def l2(pairId: Int, events: Iterator[BookEvent]): Iterator[L2Change] =
    l2From(pairId, new OrderBook, events)

  /** Slice-parallel L2: emits exactly the deltas the sequential pass
    * would (see [[l1Sliced]] and [[l2From]]). */
  def l2Sliced(pairId: Int, events: Iterator[SlicedEvent]): Iterator[L2Change] = {
    val buf = events.buffered
    val (book, _) = seedBook(buf)
    l2From(pairId, book, buf.map(_.toBookEvent))
  }

  /** L2 emission continuing from `book`: its standing levels become the
    * per-level "previous total" state, so a seeded book (a slice
    * boundary, or the live `StreamingOps.l2Stream` book rebuilt from
    * state) emits exactly the deltas one sequential pass would. */
  private[graft] def l2From(pairId: Int, book: OrderBook,
      events: Iterator[BookEvent]): Iterator[L2Change] = {
    val prev = mutable.HashMap.empty[(Boolean, Double), Double]
    for (isBid <- Seq(true, false); (price, vol) <- book.depth(isBid))
      prev.update((isBid, price), vol)
    episodesFrom(book, events, (ts, b, touched) =>
      touched.distinct.flatMap { case (isBid, price) =>
        val now = b.volumeAt(isBid, price)
        if (now != prev.getOrElse((isBid, price), 0.0)) {
          if (now == 0.0) prev.remove((isBid, price))
          else prev.update((isBid, price), now)
          Some(L2Change(pairId, ts, if (isBid) "b" else "s", price, now))
        } else None
      })
  }

}
