package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.market.{Dimensions, Level3Source}

/** Bitfinex R0 book-channel connector — the exchange-format tier the
  * reference captures with asyncio websockets
  * (`python/obadiah/bitfinex.py:28-118`). Frames look like
  * `[chanId, payload, rts_ms]` where payload is a snapshot
  * (`[[order_id, price, amount], …]`), a single update
  * (`[order_id, price, amount]`), or the `"hb"` heartbeat; a
  * zero-price update deletes the order and *completes an episode*, a
  * snapshot frame is an episode of its own.
  *
  * [[parseFrames]] is stateless (plain JSON expressions — safe under
  * Structured Streaming); [[rawBookEvents]] adds the batch episode
  * sessionization (the streaming path runs the same parse and hands
  * rows to `streaming/StreamingOps`' stateful kernels instead).
  */
object BitfinexFeed {

  /** (pair_id, channel_id, local_timestamp µs, message JSON) →
    * one row per book entry:
    * (pair_id, channel_id, local_timestamp, rts µs, order_id, price,
    * amount, is_snapshot). Heartbeats and malformed frames drop. */
  def parseFrames(frames: DataFrame): DataFrame = {
    val payload = get_json_object(col("message"), "$[1]")
    val rts = (get_json_object(col("message"), "$[2]").cast("double") * 1000)
      .cast("long") // ms → µs
    val base = frames
      .withColumn("payload", payload)
      .withColumn("rts", rts)
      // $[0] of the payload-extracted... snapshots nest one level deeper
      .withColumn("is_snapshot",
        get_json_object(col("payload"), "$[0][0]").isNotNull)
      .filter(col("payload").isNotNull && col("payload") =!= "\"hb\"" &&
        col("payload") =!= "hb")
    val snap = base.filter(col("is_snapshot"))
      .select(col("pair_id"), col("channel_id"), col("local_timestamp"),
        col("rts"),
        explode(from_json(col("payload"), org.apache.spark.sql.types.DataType.fromDDL("array<array<double>>")))
          .as("entry"),
        lit(true).as("is_snapshot"))
    val upd = base.filter(!col("is_snapshot"))
      .select(col("pair_id"), col("channel_id"), col("local_timestamp"),
        col("rts"),
        from_json(col("payload"), org.apache.spark.sql.types.DataType.fromDDL("array<double>")).as("entry"),
        lit(false).as("is_snapshot"))
    snap.unionByName(upd)
      .select(col("pair_id"), col("channel_id"), col("local_timestamp"),
        col("rts"),
        col("entry").getItem(0).cast("long").as("order_id"),
        col("entry").getItem(1).as("price"),
        col("entry").getItem(2).as("amount"),
        col("is_snapshot"))
      .filter(col("order_id").isNotNull)
  }

  /** Parsed entries → `transient_raw_book_events` rows with episode
    * sessionization: an episode ends at (and includes) a zero-price
    * update or a snapshot entry's frame; `episode_timestamp` is the
    * episode's latest exchange timestamp (the capture handler's
    * `episode_rts` under monotone feeds). */
  def rawBookEvents(frames: DataFrame): DataFrame = {
    val parsed = parseFrames(frames)
    val w = Window.partitionBy("pair_id", "channel_id")
      .orderBy("local_timestamp", "order_id")
    val boundary = when(col("is_snapshot") || col("price") === 0.0, 1)
      .otherwise(0)
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    val withEpisode = parsed
      .withColumn("episode_no",
        coalesce(sum(boundary).over(wPrev), lit(0L)))
    val wEp = Window.partitionBy("pair_id", "channel_id", "episode_no")
    withEpisode
      .withColumn("episode_timestamp", max("rts").over(wEp))
      .select(col("rts").as("exchange_timestamp"), col("order_id"),
        col("price"), col("amount"), col("pair_id"),
        col("local_timestamp"), col("channel_id"),
        col("episode_timestamp"))
  }

  /** Trades-channel frames → transient trade rows (reference
    * `python/obadiah/bitfinex.py:121-151`): `'tu'` frames are
    * authoritative single trades, `'te'`/`'hb'` are dropped, a leading
    * snapshot carries an array of trades. Entry = [id, mts, qty,
    * price]; negative qty = sell. Stateless — streaming-safe. */
  def parseTradeFrames(frames: DataFrame): DataFrame = {
    val payload = get_json_object(col("message"), "$[1]")
    val base = frames.withColumn("payload", payload)
    val tu = base
      .filter(col("payload") === "\"tu\"" || col("payload") === "tu")
      .select(col("pair_id"), col("channel_id"), col("local_timestamp"),
        from_json(get_json_object(col("message"), "$[2]"),
          org.apache.spark.sql.types.DataType.fromDDL("array<double>"))
          .as("entry"))
    val snap = base
      .filter(get_json_object(col("payload"), "$[0][0]").isNotNull)
      .select(col("pair_id"), col("channel_id"), col("local_timestamp"),
        explode(from_json(col("payload"),
          org.apache.spark.sql.types.DataType.fromDDL("array<array<double>>")))
          .as("entry"))
    tu.unionByName(snap)
      .select(col("pair_id"), col("channel_id"), col("local_timestamp"),
        col("entry").getItem(0).cast("long").as("trade_id"),
        (col("entry").getItem(1) * 1000).cast("long")
          .as("exchange_timestamp"), // ms → µs
        col("entry").getItem(2).as("qty"),
        col("entry").getItem(3).as("price"))
      .filter(col("trade_id").isNotNull)
  }

  /** `bitfinex.capture_transient_trades`
    * (`db/bitfinex_schema.sql:477-492`): transient trades → matches
    * rows, `distinct on (exchange_timestamp, id)` (first by capture
    * time), side from the sign of qty. */
  def captureTrades(transient: DataFrame): DataFrame = {
    val w = Window.partitionBy("exchange_timestamp", "trade_id")
      .orderBy("local_timestamp")
    transient
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        // `round(abs(qty), fmu), round(price, price_precision)` —
        // reference `db/bitfinex_schema.sql:487`
        Dimensions.roundAmount(col("pair_id"), abs(col("qty"))).as("amount"),
        Dimensions.roundPrice(col("pair_id"), col("price")).as("price"),
        when(col("qty") < 0, "s").otherwise("b").as("side"),
        col("exchange_timestamp").as("microtimestamp"),
        col("local_timestamp"), col("pair_id"),
        col("trade_id").as("exchange_trade_id"))
  }

  /** The level3 builder over the *native feed shape* (reference
    * `bitfinex.capture_transient_raw_book_events`,
    * `db/bitfinex_schema.sql:279-468`): a projection into the one
    * level3 derivation, `Level3Source.fromOrderEvents`. It projects
    *   - price and amount rounded on ingest by the pair's R0 and fmu
    *     (`db/bitfinex_schema.sql:352`): a real feed carries
    *     sub-precision float noise, and price chains, fill arithmetic
    *     and dedupe assume normalized values;
    *   - `|amount|`, and the side from its sign (Bitfinex convention:
    *     +amount bid, −amount ask; the derivation keeps each
    *     incarnation's first side);
    *   - zero price = deletion; a later reappearance of an order_id is a
    *     reincarnation, numbered on from the id base `order_id·1000`;
    *   - the order stream (pair_id, order_id), ordered by
    *     (`episode_timestamp`, `local_timestamp`): timestamps are
    *     episode-grained (`microtimestamp = episode_timestamp`), as the
    *     reference, and `event_id = local_timestamp`. */
  def level3FromRaw(raw: DataFrame): DataFrame = {
    val amount = Dimensions.roundAmount(col("pair_id"), col("amount"))
    val price = Dimensions.roundPrice(col("pair_id"), col("price"))
    Level3Source.fromOrderEvents(raw
      .withColumn("amount", amount)
      .withColumn("price", price)
      .select(struct(col("pair_id"), col("order_id")).as("stream"),
        (col("order_id") * 1000).as("id_base"),
        col("episode_timestamp").as("microtimestamp"),
        col("local_timestamp").as("event_id"),
        col("pair_id"),
        lit(1).as("exchange_id"),
        when(col("amount") > 0, "b").otherwise("s").as("side"),
        col("price"),
        abs(col("amount")).as("amount"),
        when(col("price") === 0.0, 1).otherwise(0).as("del_flag")))
  }
}
