package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.market.Level3Source

/** A crafted level3 log for order-book tests, in January 2024 (one lake
  * month). Pairs 1 and 2 have both sides; pair 3 has bids only. Prices
  * come from a ten-step grid per side and timestamps from a 1 ms grid,
  * so equal prices and equal `microtimestamp`s at one price are common.
  * Amounts are multiples of 0.1, whose double sums depend on their
  * order. Nothing is live before [[Start]]. */
object OrderBookFixture {

  val Start: Long = 1704067200000000L + 10L * 86400 * 1000000 // 2024-01-11

  /** Rows live somewhere in `[Start, Start + SpanMicros)`. */
  val SpanMicros: Long = 60000L

  def level3(spark: SparkSession, orders: Int = 400, seed: Long = 12L): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val rows = (0 until orders).map { i =>
      val pair = 1 + rnd.nextInt(3)
      val side = if (pair == 3 || rnd.nextBoolean()) "b" else "s"
      val price =
        if (side == "b") 100.0 - 0.5 * rnd.nextInt(10)
        else 101.0 + 0.5 * rnd.nextInt(10)
      val ts = Start + 1000L * rnd.nextInt(50)
      val next =
        if (rnd.nextInt(4) == 0) Level3Source.AliveMicros
        else ts + 1000L * (1 + rnd.nextInt(20))
      val amount = 0.1 * (1 + rnd.nextInt(30))
      (ts, 1000L + i, 1, side, price, amount, Option.empty[Double], next,
        false, ts, 1, pair, 1, i.toLong)
    }
    rows.toDF("microtimestamp", "order_id", "event_no", "side", "price",
      "amount", "fill", "next_microtimestamp", "is_deleted",
      "price_microtimestamp", "price_event_no", "pair_id", "exchange_id",
      "event_id")
  }

  /** `n` seeded instants in the span, half on the 1 ms grid (where
    * orders start and end), and one before [[Start]] (an empty book). */
  def instants(n: Int, seed: Long = 7L): Seq[Long] = {
    val rnd = new scala.util.Random(seed)
    (Start - 1) +: (0 until n).map { k =>
      if (k % 2 == 0) Start + 1000L * rnd.nextInt(60)
      else Start + (rnd.nextDouble() * SpanMicros).toLong
    }
  }
}
