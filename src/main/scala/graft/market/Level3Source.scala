package graft.market

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.tsMicros

/** Deterministic adapter: the driver's `events` table → a canonical
  * level-3 order-event log (one row per limit-order event, with a
  * per-row temporal validity interval), mirroring the reference data
  * model `obanalytics.level3` (reference:
  * `db/obanalytics_schema.sql:128-153`) and the level3 *builder*
  * window-pass (reference: `db/bitfinex_schema.sql:279-468` — event_no
  * via row_number, fill via lag(amount), forward pointer via
  * lead(timestamp), price chains via cumulative sum of price-change
  * flags, order reincarnation after deletion).
  *
  * Mapping (pure, stable, oracle-expressible):
  *   - order stream key  = user_id; a row with event_type='error' deletes
  *     the current order; later rows of the same user reincarnate it as a
  *     fresh order_id (user_id*1000 + incarnation_no).
  *   - side   = 'b' for even user_id else 's'
  *   - price  = value (already 2-decimal in the data; never re-rounded)
  *   - amount = event_id % 20 + 1 (exact in Double arithmetic)
  *   - pair_id = user_id % 3 + 1 (three instruments → replay partitions)
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

  /** The per-user columns of the mapping above: pair and side. */
  private def userCols(user: Column): Seq[Column] = Seq(
    ((user % 3) + 1).cast("int").as("pair_id"),
    when(user % 2 === 0, "b").otherwise("s").as("side"))

  /** The adapter's event → order-event projection (the mapping above),
    * the input of both window builds. */
  private def orderEvents(events: DataFrame): DataFrame = {
    val user = col("user_id")
    events.select(Seq(col("event_id"),
      tsMicros(col("ts")).as("microtimestamp"), user) ++ userCols(user) ++ Seq(
      // asks priced +80 above the bid range: the two sides overlap in
      // [80, ~200] so crossed books occur but are not the norm
      when(user % 2 === 0, col("value"))
        .otherwise(col("value") + 80.0).as("price"),
      ((col("event_id") % 20) + 1).cast("double").as("amount"),
      when(col("event_type") === "error", 1).otherwise(0).as("del_flag")): _*)
  }

  /** events DataFrame (event_id, ts, user_id, event_type, value, props)
    * → level3 DataFrame with columns:
    * microtimestamp(Long µs), order_id, event_no, side, price, amount,
    * fill, next_microtimestamp(Long µs), is_deleted, price_microtimestamp,
    * price_event_no, pair_id, exchange_id, event_id.
    *
    * SINGLE-EXCHANGE build (r17, guide §2.4): the builder used to pay
    * three shuffles — user_id (incarnation counter), order_id
    * (event_no/lag/lead), (order_id, price_group) (chain anchors) —
    * but every per-ORDER quantity is derivable inside the USER
    * partition, because an order's rows are a contiguous run of its
    * user's (ts, event_id)-ordered stream (order_id = user·1000 +
    * #deletes-before, and the delete counter is nondecreasing along
    * exactly that ordering):
    *   - a row opens a new incarnation iff the PREVIOUS user row was a
    *     delete (or there is none) — so `lag(del_flag)` replaces the
    *     order-key repartition;
    *   - `event_no` = user row_number − row_number at the incarnation
    *     start + 1, with the start carried by a running
    *     `last(_, ignoreNulls)`;
    *   - lag/lead within the order = user-window lag/lead masked at
    *     incarnation boundaries (a non-delete row's successor is
    *     always same-order, a delete row never needs its lead);
    *   - the price-chain anchor (min ts / min event_no over the chain)
    *     = the running carry of the last chain-start row — a chain
    *     never crosses an incarnation, so the carries stay exact.
    * Two chained WindowExecs over the SAME (user_id; ts, event_id)
    * spec — Catalyst plans ONE Exchange + ONE Sort for both (plan
    * audit in plans/r17/mkt_level3_*.txt; rows equal the
    * three-shuffle build on the sf0.001 fixture by ShapeParitySpec's
    * exceptAll both ways, and the mkt_level3 oracle row matches the
    * DuckDB mirror in the gate runs of docs/verify/gate_log.txt). At
    * 100 TB the build shuffles the log once instead of three times. */
  def level3(events: DataFrame): DataFrame = {
    val base = orderEvents(events)
    val wUser = Window.partitionBy("user_id")
      .orderBy("microtimestamp", "event_id")
    val run = wUser.rowsBetween(Window.unboundedPreceding, 0)
    // pass 1 over the user partition: incarnation counter, row number,
    // neighbor values (masked into per-order semantics below)
    val u = base
      .withColumn("order_id",
        col("user_id") * 1000 + coalesce(
          sum("del_flag").over(
            wUser.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("rn_u", row_number().over(wUser))
      .withColumn("lag_del", lag("del_flag", 1).over(wUser))
      .withColumn("prev_amount_u", lag("amount", 1).over(wUser))
      .withColumn("prev_price_u", lag("price", 1).over(wUser))
      .withColumn("lead_ts_u", lead("microtimestamp", 1).over(wUser))
      // new incarnation starts where the previous user row deleted (or
      // at the user's first row); a price chain starts there too, or
      // wherever the price moved within the incarnation
      .withColumn("inc_start",
        col("lag_del").isNull || col("lag_del") === 1)
      .withColumn("price_chg",
        when(col("inc_start") ||
          col("price") =!= col("prev_price_u"), 1).otherwise(0))
    // pass 2, same partitioning and ordering (no new Exchange/Sort):
    // carry the incarnation-start and chain-start row numbers/ts
    val evt = u
      .withColumn("inc_start_rn",
        last(when(col("inc_start"), col("rn_u")), ignoreNulls = true)
          .over(run))
      .withColumn("chain_rn",
        last(when(col("price_chg") === 1, col("rn_u")), ignoreNulls = true)
          .over(run))
      .withColumn("chain_ts",
        last(when(col("price_chg") === 1, col("microtimestamp")),
          ignoreNulls = true).over(run))
    evt.select(
      col("microtimestamp"),
      col("order_id"),
      (col("rn_u") - col("inc_start_rn") + 1).as("event_no"),
      col("side"),
      col("price"),
      col("amount"),
      when(!col("inc_start") && col("prev_amount_u") > col("amount"),
        col("prev_amount_u") - col("amount")).as("fill"),
      // a non-delete row's next user row is always the same order's
      // next event (the incarnation can only change after a delete),
      // so the user-window lead IS the order-window lead here
      when(col("del_flag") === 1, col("microtimestamp"))
        .otherwise(coalesce(col("lead_ts_u"), lit(AliveMicros)))
        .as("next_microtimestamp"),
      (col("del_flag") === 1).as("is_deleted"),
      col("chain_ts").as("price_microtimestamp"),
      (col("chain_rn") - col("inc_start_rn") + 1).as("price_event_no"),
      col("pair_id"),
      Dimensions.exchangeOfPair(col("pair_id")).as("exchange_id"),
      col("event_id"))
  }

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
    * carry row so the one window pass continues chains, numbering and
    * fills across the boundary. */
  def continueBuild(events: DataFrame, state: DataFrame)
      : (DataFrame, DataFrame) = {
    val base = orderEvents(events).withColumn("carry", lit(false))
    val carryRows = state.filter(col("order_id").isNotNull).select(
      Seq(lit(-1L).as("event_id"),
        col("last_ts").as("microtimestamp"),
        col("user_id")) ++ userCols(col("user_id")) ++
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
    // SINGLE-EXCHANGE incremental build (r18, guide §2.4 — the carry-
    // row-aware form of the r17 [[level3]] derivation; judge r17 #4):
    // the batch used to pay THREE window partitionings (user_id →
    // order_id → (order_id, price_group), i.e. 2 Exchanges + 3 Sorts).
    // The r17 contiguity argument extends to carry rows because a
    // carry row is always its user's FIRST row in this batch — its ts
    // is the open order's last event ts ≤ the batch cut, and every
    // batch event is strictly later (the caller feeds disjoint,
    // ascending batches; [[incrementalLevel3]] splits on ts ≤/> cut) —
    // so per user the stream is [carry?] ++ new events, orders remain
    // contiguous runs (delete counter nondecreasing along the same
    // (ts, event_id) ordering), and every per-order/per-chain quantity
    // is a masked lag/lead or running carry inside the ONE user
    // window. The carry row opens the continuing incarnation (its
    // del_flag = 0, so the next real row is the SAME order), and since
    // a carry always starts a price chain (first row ⇒ price_chg = 1),
    // "the chain containing the carry" ≡ "the chain whose start row IS
    // the carry" — one more running carry of the start row's `carry`
    // flag. Rows equal the three-window shape on the sf0.001 fixture
    // at the snapshot cut (ShapeParitySpec: exceptAll both ways on
    // newRows AND corrections); the mkt_level3_incr oracle row shows
    // only that the assembled incremental build equals the full one
    // (DuckDB mirror, sf0.001 gate run in docs/verify/gate_log.txt).
    val wUser = Window.partitionBy("user_id")
      .orderBy("microtimestamp", "event_id")
    val run = wUser.rowsBetween(Window.unboundedPreceding, 0)
    val all = base.unionByName(carryRows)
      .join(st, col("user_id") === col("s_user"), "left")
    // pass 1 over the user partition: incarnation counter, row number,
    // neighbor values (masked into per-order semantics below)
    val u = all
      .withColumn("order_id",
        col("user_id") * 1000 + coalesce(col("del_base"), lit(0L)) +
          coalesce(sum("del_flag").over(
            wUser.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("rn_u", row_number().over(wUser))
      .withColumn("lag_del", lag("del_flag", 1).over(wUser))
      .withColumn("prev_amount_u", lag("amount", 1).over(wUser))
      .withColumn("prev_price_u", lag("price", 1).over(wUser))
      .withColumn("lead_ts_u", lead("microtimestamp", 1).over(wUser))
      .withColumn("inc_start",
        col("lag_del").isNull || col("lag_del") === 1)
      .withColumn("price_chg",
        when(col("inc_start") ||
          col("price") =!= col("prev_price_u"), 1).otherwise(0))
    val continuing = col("order_id") === col("s_oid")
    // pass 2, same partitioning and ordering (no new Exchange/Sort):
    // carry the incarnation-start and chain-start row facts forward
    val evt = u
      .withColumn("inc_start_rn",
        last(when(col("inc_start"), col("rn_u")), ignoreNulls = true)
          .over(run))
      .withColumn("chain_rn",
        last(when(col("price_chg") === 1, col("rn_u")), ignoreNulls = true)
          .over(run))
      .withColumn("chain_new_ts",
        last(when(col("price_chg") === 1, col("microtimestamp")),
          ignoreNulls = true).over(run))
      .withColumn("chain_is_carry",
        last(when(col("price_chg") === 1, col("carry")), ignoreNulls = true)
          .over(run))
      // row number within the order (the old wOrd row_number): the
      // carry row, when present, is row 1 of the continuing order
      .withColumn("rn",
        col("rn_u") - col("inc_start_rn") + 1)
      .withColumn("event_no",
        when(continuing, col("rn") + col("event_count") - 1)
          .otherwise(col("rn")).cast("int"))
      .filter(!col("carry"))
      // feeds newRows AND the pointer corrections — one evaluation (r17)
      .localCheckpoint(false)
    // event_no of a chain's start row = the chain-start offset pushed
    // through the same per-order numbering as the current row (chains
    // never cross an incarnation, so both share inc_start_rn and the
    // continuing status)
    val chainStartEno =
      when(continuing,
        col("chain_rn") - col("inc_start_rn") + col("event_count"))
        .otherwise(col("chain_rn") - col("inc_start_rn") + 1)
    val newRows = evt.select(
      col("microtimestamp"),
      col("order_id"),
      col("event_no"),
      col("side"),
      col("price"),
      col("amount"),
      // the first row of a FRESH incarnation has no predecessor (old
      // shape: order-window lag = null); within an order the user-
      // window lag IS the order-window lag (contiguity), and the
      // continuing order's first real row sees the carry's amount
      when(!col("inc_start") && col("prev_amount_u") > col("amount"),
        col("prev_amount_u") - col("amount")).as("fill"),
      // a non-delete row's next user row is always the same order's
      // next event (the incarnation can only change after a delete)
      when(col("del_flag") === 1, col("microtimestamp"))
        .otherwise(coalesce(col("lead_ts_u"), lit(AliveMicros)))
        .as("next_microtimestamp"),
      (col("del_flag") === 1).as("is_deleted"),
      when(col("chain_is_carry"), col("chain_ts"))
        .otherwise(col("chain_new_ts")).as("price_microtimestamp"),
      when(col("chain_is_carry"), col("chain_eno"))
        .otherwise(chainStartEno).cast("int").as("price_event_no"),
      col("pair_id"),
      Dimensions.exchangeOfPair(col("pair_id")).as("exchange_id"),
      col("event_id"))
    val corrections = evt
      .filter(continuing && col("rn") === 2) // first real event after carry
      .select(col("order_id"), (col("event_count")).as("event_no"),
        col("microtimestamp").as("new_next"))
    (newRows, corrections)
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
