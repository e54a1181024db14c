package graft.market

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.tsMicros

/** Deterministic adapter: the driver's `events` table → a canonical
  * level-3 order-event log (one row per limit-order event, with a
  * per-row temporal validity interval), mirroring the reference data
  * model `obanalytics.level3` (reference:
  * `db/obanalytics_schema.sql:128-153`). The level3 *builder*
  * (reference: `db/bitfinex_schema.sql:279-468` — event_no, fill,
  * forward pointer, price chains, order reincarnation after deletion)
  * is [[derive]], one window pass that the wire-format builders in
  * `graft.sources` project into as well.
  *
  * Mapping (pure, stable, oracle-expressible):
  *   - order stream key  = user_id; a row with event_type='error' deletes
  *     the current order; later rows of the same user reincarnate it as a
  *     fresh order_id (user_id*1000 + incarnation_no).
  *   - side   = 'b' for even user_id else 's'
  *   - price  = value (already 2-decimal in the data; never re-rounded)
  *   - amount = event_id % 20 + 1 (exact in Double arithmetic)
  *   - pair_id = user_id % 3 + 1 (three instruments → replay partitions)
  *   - exchange_id = `Dimensions.exchangeOfPair(pair_id)`
  *
  * ±infinity sentinels of the reference become: `next_microtimestamp =
  * ALIVE_MICROS` for "order still alive" and an `is_deleted` flag (with
  * an empty validity interval) for "-infinity" (SURVEY §7.4).
  *
  * All timestamps are carried as epoch **microseconds** (LongType) —
  * the reference's native resolution — so the replay kernels never touch
  * timezone-dependent types.
  */
object Level3Source {

  /** Sentinel for "order alive to the end of data" (2100-01-01 UTC, µs). */
  val AliveMicros: Long = 4102444800000000L

  /** Era gap threshold: a silence of > 2h on a pair starts a new era
    * (reference uses 2 s on µs-spaced feeds, `db/bitfinex_schema.sql:279`;
    * scaled to this dataset's event spacing). */
  val EraGapMicros: Long = 2L * 3600 * 1000000

  /** The per-user columns of the mapping above: the order stream and
    * its id base, pair, venue and side. */
  private def userCols(user: Column): Seq[Column] = {
    val pair = ((user % 3) + 1).cast("int")
    Seq(user.as("user_id"), user.as("stream"), (user * 1000).as("id_base"),
      pair.as("pair_id"), Dimensions.exchangeOfPair(pair).as("exchange_id"),
      when(user % 2 === 0, "b").otherwise("s").as("side"))
  }

  /** The adapter's event → order-event projection (the mapping above):
    * kernel rows without the carry columns. */
  private def orderEvents(events: DataFrame): DataFrame = {
    val user = col("user_id")
    events.select(Seq(col("event_id"),
      tsMicros(col("ts")).as("microtimestamp")) ++ userCols(user) ++ Seq(
      // asks priced +80 above the bid range: the two sides overlap in
      // [80, ~200] so crossed books occur but are not the norm
      when(user % 2 === 0, col("value"))
        .otherwise(col("value") + 80.0).as("price"),
      ((col("event_id") % 20) + 1).cast("double").as("amount"),
      when(col("event_type") === "error", 1).otherwise(0).as("del_flag")): _*)
  }

  /** The carry columns of a source with no carried state. */
  private val NoCarry: Seq[Column] = Seq(lit(false).as("carry"),
    lit(null).cast("long").as("s_oid"), lit(null).cast("int").as("event_count"),
    lit(null).cast("long").as("chain_ts"), lit(null).cast("int").as("chain_eno"))

  /** The columns [[derive]] adds for [[continueBuild]]'s corrections. */
  private val CorrectionCols = Seq("corrects", "event_count")

  /** The one level3 derivation (reference
    * `capture_transient_raw_book_events`, `db/bitfinex_schema.sql:279-468`),
    * run by [[level3]], [[continueBuild]], `BitfinexFeed.level3FromRaw`
    * and `BitstampFeed.level3FromLiveOrders`. Input: one row per order
    * event with
    *   - `stream`: the order-stream key. A stream holds one order at a
    *     time; a deletion ends it, and the stream's next row opens a new
    *     incarnation with `order_id = id_base + deletions before it`;
    *   - `id_base`, `microtimestamp`, `event_id` (the order key within
    *     the stream), `pair_id`, `exchange_id`, `side`, `price`,
    *     `amount` (non-negative) and `del_flag` (1 = the row deletes);
    *   - the carry columns (see [[continueBuild]]; [[NoCarry]] where
    *     there is no carried state).
    *
    * ONE window over (stream; microtimestamp, event_id), so one
    * Exchange and one Sort. Every per-order quantity comes out of the
    * stream window because an order's rows are a contiguous run of its
    * stream (the deletion counter is nondecreasing along the ordering):
    *   - a row opens an incarnation iff the previous stream row deleted
    *     (or there is none), so `lag(del_flag)` stands in for an
    *     order-keyed repartition;
    *   - `event_no` = stream row number − the incarnation start's row
    *     number + 1, the start carried by a running `last(_, ignoreNulls)`;
    *     the side is the incarnation's first row's;
    *   - `fill` and the price-change flag are stream lags masked at
    *     incarnation starts; the forward pointer is the stream lead,
    *     because a non-delete row's successor is always the same order's
    *     next event and a delete row points at itself;
    *   - a price chain starts where the incarnation starts, the previous
    *     price is null or the price moved; its anchor (`price_microtimestamp`,
    *     `price_event_no`) is the running carry of the last chain start,
    *     exact because a chain never crosses an incarnation.
    * A carry row (`carry`) is its stream's first row and the last event
    * of an open order: it opens the continuing incarnation, numbers it
    * from `event_count`, and when its chain is still open the chain's
    * anchor is the carried (`chain_ts`, `chain_eno`). Carry rows are not
    * output; a row with `corrects` is a continuing order's first new
    * event. Rows equal the per-order window shapes each builder had
    * before (ShapeParitySpec, exceptAll both ways). */
  private def derive(rows: DataFrame): DataFrame = {
    val w = Window.partitionBy("stream").orderBy("microtimestamp", "event_id")
    val run = w.rowsBetween(Window.unboundedPreceding, 0)
    // pass 1: incarnation counter, row number, neighbours in the stream
    val u = rows
      .withColumn("order_id", col("id_base") + coalesce(sum("del_flag").over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("rn_s", row_number().over(w))
      .withColumn("lag_del", lag("del_flag", 1).over(w))
      .withColumn("prev_amount", lag("amount", 1).over(w))
      .withColumn("prev_price", lag("price", 1).over(w))
      .withColumn("lead_ts", lead("microtimestamp", 1).over(w))
      .withColumn("inc_start", col("lag_del").isNull || col("lag_del") === 1)
      .withColumn("price_chg", col("inc_start") ||
        col("prev_price").isNull || col("price") =!= col("prev_price"))
    // pass 2, same partitioning and ordering (no new Exchange or Sort):
    // carry the incarnation-start and chain-start rows forward
    def startOf(flag: String, c: String): Column =
      last(when(col(flag), col(c)), ignoreNulls = true).over(run)
    val evt = u
      .withColumn("inc_rn", startOf("inc_start", "rn_s"))
      .withColumn("inc_side", startOf("inc_start", "side"))
      .withColumn("chain_rn", startOf("price_chg", "rn_s"))
      .withColumn("chain_new_ts", startOf("price_chg", "microtimestamp"))
      .withColumn("chain_is_carry", startOf("price_chg", "carry"))
      .withColumn("rn", col("rn_s") - col("inc_rn") + 1)
      .filter(!col("carry"))
    // a continuing order numbers on from its carried event count; a
    // chain start shares the current row's incarnation, so its event_no
    // is the chain-start offset through the same numbering
    val continuing = col("order_id") === col("s_oid")
    def eventNo(rn: Column): Column =
      when(continuing, rn + col("event_count") - 1).otherwise(rn).cast("int")
    evt.select(
      col("microtimestamp"),
      col("order_id"),
      eventNo(col("rn")).as("event_no"),
      col("inc_side").as("side"),
      col("price"),
      col("amount"),
      when(!col("inc_start") && col("prev_amount") > col("amount"),
        col("prev_amount") - col("amount")).as("fill"),
      when(col("del_flag") === 1, col("microtimestamp"))
        .otherwise(coalesce(col("lead_ts"), lit(AliveMicros)))
        .as("next_microtimestamp"),
      (col("del_flag") === 1).as("is_deleted"),
      when(col("chain_is_carry"), col("chain_ts"))
        .otherwise(col("chain_new_ts")).as("price_microtimestamp"),
      when(col("chain_is_carry"), col("chain_eno"))
        .otherwise(eventNo(col("chain_rn") - col("inc_rn") + 1))
        .cast("int").as("price_event_no"),
      col("pair_id"),
      col("exchange_id"),
      col("event_id"),
      // the carry row is row 1 of its order
      (continuing && col("rn") === 2).as("corrects"),
      col("event_count"))
  }

  /** [[derive]] for a source with no carried state: order-event rows
    * (its input columns without the carry columns) → level3 rows. */
  private[graft] def fromOrderEvents(rows: DataFrame): DataFrame =
    derive(rows.select(col("*") +: NoCarry: _*)).drop(CorrectionCols: _*)

  /** events DataFrame (event_id, ts, user_id, event_type, value, props)
    * → level3 DataFrame with columns:
    * microtimestamp(Long µs), order_id, event_no, side, price, amount,
    * fill, next_microtimestamp(Long µs), is_deleted, price_microtimestamp,
    * price_event_no, pair_id, exchange_id, event_id. The order stream
    * is the user, with id base `user_id·1000` (see [[derive]]). */
  def level3(events: DataFrame): DataFrame =
    fromOrderEvents(orderEvents(events))

  /** Carry state for incremental (batch-at-a-time) building — the
    * month-boundary chain continuation of the reference (`v_open_orders`,
    * `db/bitfinex_schema.sql:327-340`; trigger path
    * `db/obanalytics_schema.sql:1760-1834`): per user the deletion
    * count so far (incarnation base), and per *open* order its event
    * count, last event state and current price-chain anchor. */
  def openState(level3Df: DataFrame): DataFrame = {
    val delCounts = level3Df
      .groupBy("user_id")
      .agg(sum(when(col("is_deleted"), 1).otherwise(0)).as("del_base"))
    val wOrd = Window.partitionBy("order_id")
      .orderBy(col("microtimestamp").desc, col("event_id").desc)
    val open = level3Df
      .withColumn("rn", row_number().over(wOrd))
      .filter(col("rn") === 1 && !col("is_deleted"))
      .select(col("user_id"), col("order_id"),
        col("event_no").as("event_count"),
        col("microtimestamp").as("last_ts"),
        col("price").as("last_price"),
        col("amount").as("last_amount"),
        col("price_microtimestamp").as("chain_ts"),
        col("price_event_no").as("chain_eno"))
    delCounts.join(open, Seq("user_id"), "left")
  }

  /** Build the next batch of events on top of carried [[openState]]:
    * returns (new level3 rows, pointer corrections). A correction
    * re-points the previous batch's final event of each continuing
    * order at its first new event — the immutable form of the
    * reference's `level3_incorporate_new_event` trigger. The carry
    * mechanism: each open order's last event is prepended as a silent
    * carry row so the one window pass of [[derive]] continues chains,
    * numbering and fills across the boundary. A carry row is its
    * user's first row here because its ts is ≤ the batch cut and every
    * batch event is later (the caller feeds disjoint, ascending
    * batches; [[incrementalLevel3]] splits on ts ≤/> cut). */
  def continueBuild(events: DataFrame, state: DataFrame)
      : (DataFrame, DataFrame) = {
    val carryRows = state.filter(col("order_id").isNotNull).select(
      Seq(lit(-1L).as("event_id"),
        col("last_ts").as("microtimestamp")) ++ userCols(col("user_id")) ++
      Seq(col("last_price").as("price"),
        col("last_amount").as("amount"),
        lit(0).as("del_flag"),
        lit(true).as("carry")): _*)
    val st = state.select(col("user_id").as("s_user"),
      coalesce(col("del_base"), lit(0L)).as("del_base"),
      col("order_id").as("s_oid"), col("event_count"),
      col("chain_ts"), col("chain_eno"))
      // one state row per user (open order unique per user in this
      // adapter); del_base applies to every incarnation
      .groupBy("s_user")
      .agg(max("del_base").as("del_base"), max("s_oid").as("s_oid"),
        max("event_count").as("event_count"), max("chain_ts").as("chain_ts"),
        max("chain_eno").as("chain_eno"))
    val evt = derive(orderEvents(events).withColumn("carry", lit(false))
        .unionByName(carryRows)
        // on the stream, so the window reuses the join's partitioning
        .join(st, col("stream") === col("s_user"), "left")
        .withColumn("id_base",
          col("id_base") + coalesce(col("del_base"), lit(0L))))
      // feeds newRows AND the pointer corrections — one evaluation (r17)
      .localCheckpoint(false)
    val corrections = evt.filter(col("corrects"))
      .select(col("order_id"), col("event_count").as("event_no"),
        col("microtimestamp").as("new_next"))
    (evt.drop(CorrectionCols: _*), corrections)
  }

  /** Incremental end-to-end: build events ≤ `cutMicros`, carry the open
    * state, build the rest on top, apply pointer corrections, merge.
    * The result is exactly [[level3]] of the whole stream (proven by
    * the driver oracle `mkt_level3_incr` and IncrementalSpec) — the
    * property that lets the 100 TB lake build month by month. */
  def incrementalLevel3(events: DataFrame, cutMicros: Long): DataFrame = {
    val first = events.filter(tsMicros(col("ts")) <= cutMicros)
    val rest = events.filter(tsMicros(col("ts")) > cutMicros)
    // batch1 feeds openState (delete counts + open-order window) AND
    // the correction join — lazy-checkpoint so the first month's build
    // runs once, not three times (r17 single-evaluation rule)
    val batch1 = level3(first)
      .join(first.select(col("event_id").as("u_eid"), col("user_id")),
        col("event_id") === col("u_eid"))
      .drop("u_eid")
      .localCheckpoint(false)
    val (newRows, corrections) = continueBuild(rest, openState(batch1))
    val corrected = batch1
      .join(corrections.select(col("order_id").as("c_oid"),
        col("event_no").as("c_eno"), col("new_next")),
        col("order_id") === col("c_oid") && col("event_no") === col("c_eno"),
        "left")
      .withColumn("next_microtimestamp",
        coalesce(col("new_next"), col("next_microtimestamp")))
      .drop("c_oid", "c_eno", "new_next", "user_id")
    corrected.unionByName(newRows)
  }

  /** Era detection per pair: gaps-and-islands over the event stream
    * (reference: new era when feed gap exceeds a threshold,
    * `db/bitfinex_schema.sql:332-361`). Returns
    * (pair_id, era, level3) with era = first µs of the era and
    * level3 = last µs (high-watermark, cf. `obanalytics.level3_eras`). */
  def eras(level3Df: DataFrame): DataFrame = {
    // Single-task-per-pair window, accepted deliberately: the scan is
    // two thin columns (pair_id, µs), runs once per lake build, and
    // era detection is a prefix-sum over gaps — the same class as the
    // sliced as-of sites but ~50× narrower rows and off every query
    // path. If a pair's full history ever exceeds one task, apply the
    // AsofSlicing seed pattern to the gap flags (a gap never spans a
    // slice boundary unseen: the seed row carries prev_ts).
    val wPair = Window.partitionBy("pair_id").orderBy("microtimestamp")
    level3Df
      .select("pair_id", "microtimestamp")
      .withColumn("prev_ts", lag("microtimestamp", 1).over(wPair))
      .withColumn("new_era",
        when(col("prev_ts").isNull ||
          col("microtimestamp") - col("prev_ts") > EraGapMicros, 1)
          .otherwise(0))
      .withColumn("era_no",
        sum("new_era").over(wPair.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("pair_id", "era_no")
      .agg(
        min("microtimestamp").as("era"),
        max("microtimestamp").as("level3"))
      .select("pair_id", "era_no", "era", "level3")
  }

  /** level3 rows annotated with the era they fall into (adds era_no,
    * era). ONE window pass (r17, guide §2.4): the lag previously
    * ordered by bare `microtimestamp` (a second Sort under the same
    * exchange — gap flags are ts-difference-only, so the (ts,
    * event_id) tiebreak changes nothing), and the era start came from
    * `min(ts) over (pair_id, era_no)` — a second Exchange — when it
    * is simply the flag row's own ts carried forward (rows are
    * ts-ascending, so the era's first row IS its minimum). */
  def level3WithEras(level3Df: DataFrame): DataFrame = {
    val wPair = Window.partitionBy("pair_id")
      .orderBy("microtimestamp", "event_id")
    val run = wPair.rowsBetween(Window.unboundedPreceding, 0)
    level3Df
      .withColumn("prev_ts", lag("microtimestamp", 1).over(wPair))
      .withColumn("new_era",
        when(col("prev_ts").isNull ||
          col("microtimestamp") - col("prev_ts") > EraGapMicros, 1)
          .otherwise(0))
      .withColumn("era_no", sum("new_era").over(run))
      .withColumn("era",
        last(when(col("new_era") === 1, col("microtimestamp")),
          ignoreNulls = true).over(run))
      .drop("prev_ts", "new_era")
  }
}
