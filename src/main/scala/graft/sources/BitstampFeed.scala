package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType
import graft.market.{Dimensions, Level3Source}

/** Bitstamp wire-format connector — the second exchange dialect
  * (reference `python/obadiah/bitstamp.py:37-120`): JSON *objects* per
  * frame, `live_orders_<pair>` events
  * (`order_created|order_changed|order_deleted`, `data` carrying
  * µs-precision `microtimestamp`, `amount_str`/`price_str`, `id`,
  * `order_type` 0=buy 1=sell) and `live_trades_<pair>` trades (`type`
  * 0=buy 1=sell, both order ids). Parsing is stateless
  * (streaming-safe); the era is the pair's first event instant
  * (`live_orders_eras` insert, `bitstamp.py:82-88`). */
object BitstampFeed {

  private val orderSchema = DataType.fromDDL(
    "event string, channel string, data struct<microtimestamp: string, " +
      "datetime: string, amount_str: string, price_str: string, " +
      "id: bigint, order_type: int>")

  private val tradeSchema = DataType.fromDDL(
    "event string, channel string, data struct<microtimestamp: string, " +
      "amount_str: string, price_str: string, id: bigint, type: int, " +
      "buy_order_id: bigint, sell_order_id: bigint>")

  /** (pair_id, local_timestamp, message) → transient live-order rows
    * with the era attached (first event instant per pair). */
  def liveOrders(frames: DataFrame): DataFrame = {
    val m = from_json(col("message"), orderSchema)
    val base = frames
      .withColumn("m", m)
      .filter(col("m.event").isin(
        "order_created", "order_changed", "order_deleted") &&
        col("m.channel").startsWith("live_orders"))
      .select(col("pair_id"), col("local_timestamp"),
        col("m.data.microtimestamp").cast("long").as("microtimestamp"),
        (col("m.data.datetime").cast("double") * 1000000).cast("long")
          .as("datetime"),
        col("m.data.amount_str").cast("double").as("amount"),
        col("m.data.price_str").cast("double").as("price"),
        col("m.data.id").as("order_id"),
        when(col("m.data.order_type") === 1, "s").otherwise("b").as("side"),
        col("m.event").as("event"))
    base.withColumn("era",
      min("microtimestamp").over(Window.partitionBy("pair_id")))
  }

  /** (pair_id, local_timestamp, message) → transient live-trade rows. */
  def liveTrades(frames: DataFrame): DataFrame =
    frames
      .withColumn("m", from_json(col("message"), tradeSchema))
      .filter(col("m.event") === "trade" &&
        col("m.channel").startsWith("live_trades"))
      .select(col("pair_id"), col("local_timestamp"),
        col("m.data.microtimestamp").cast("long").as("trade_timestamp"),
        col("m.data.amount_str").cast("double").as("amount"),
        col("m.data.price_str").cast("double").as("price"),
        col("m.data.id").as("bitstamp_trade_id"),
        when(col("m.data.type") === 1, "s").otherwise("b").as("trade_type"),
        col("m.data.buy_order_id"), col("m.data.sell_order_id"))

  /** live_orders → level3 (the `move_events` transfer,
    * `db/bitstamp_schema.sql:1381-1448`, on the immutable path): a
    * projection into the one level3 derivation,
    * `Level3Source.fromOrderEvents`. It projects price and amount
    * rounded on ingest by the pair's R0 and fmu, as the Bitfinex path
    * (`db/bitfinex_schema.sql:352`; pairs seed
    * `db/obanalytics_pairs.sql:63-74`), `del_flag` from `order_deleted`
    * (Bitstamp reports explicit event types, not a zero price), and the
    * order stream (pair_id, order_id) ordered by (`microtimestamp`,
    * `local_timestamp`) with `event_id = local_timestamp`. Order ids
    * are exchange-unique and an order never reappears after its
    * deletion, so ids pass through unchanged (id base = `order_id`). */
  def level3FromLiveOrders(orders: DataFrame): DataFrame =
    Level3Source.fromOrderEvents(orders
      .select(struct(col("pair_id"), col("order_id")).as("stream"),
        col("order_id").as("id_base"),
        col("microtimestamp"),
        col("local_timestamp").as("event_id"),
        col("pair_id"),
        lit(2).as("exchange_id"), // bitstamp = 2 in the reference seed
        col("side"),
        Dimensions.roundPrice(col("pair_id"), col("price")).as("price"),
        Dimensions.roundAmount(col("pair_id"), col("amount")).as("amount"),
        when(col("event") === "order_deleted", 1).otherwise(0)
          .as("del_flag")))
}
