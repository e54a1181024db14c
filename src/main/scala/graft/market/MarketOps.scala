package graft.market

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StructField, StructType}

/** Spark-facing market-data operators over a level3 DataFrame (as
  * produced by [[Level3Source.level3]]).
  *
  * Two implementation styles, mirroring the reference's fast/slow twins
  * (C engine vs SQL, `db/obanalytics_schema.sql:1225-1267`):
  *   - *kernel* ops: `groupByKey(pair).flatMapSortedGroups` streaming the
  *     sorted event iterator through [[Replay]] — scales as one
  *     sequential pass per pair per executor core, state O(book);
  *   - *expression* ops: pure Catalyst (windows/joins) where the
  *     validity-interval encoding makes the answer declarative.
  *
  * Point requests (`orderBookQuery`, `orderBookAt`, `startingDepth`,
  * `spreadAt`) take their instant through [[instant]], so the code
  * Spark generates for them does not change from one instant to the
  * next.
  */
object MarketOps {

  /** Default replay slice width: 24 h of event time per (pair, slice)
    * group. Replay parallelism = pairs × days of data, so a month of one
    * hot pair still fans out over ~30 cores; at cluster scale the width
    * is the knob trading seed-row overhead (O(live orders) rows per
    * boundary) against group count. */
  val DefaultSliceMicros: Long = 86400L * 1000000

  /** The instant `micros` as a column whose generated code reads the
    * value from the stage's reference array instead of inlining it. A
    * new instant then reuses the compiled classes of the last one
    * instead of compiling each stage again, on the driver and on the
    * executor. It is still a `Literal`, so Spark pushes
    * `microtimestamp <= t` and `next_microtimestamp > t` into the
    * parquet scan as before. */
  private def instant(micros: Long): Column =
    ColumnBridge.column(new InstantLiteral(micros, LongType))

  private def bookEvents(level3: DataFrame, spark: SparkSession)
      : Dataset[BookEvent] = {
    import spark.implicits._
    level3.select(
      col("pair_id").as("pairId"),
      col("microtimestamp").as("ts"),
      col("order_id").as("orderId"),
      col("side"),
      col("price"),
      col("amount"),
      col("is_deleted").as("isDeleted"),
      col("event_id")) // extra sort key for deterministic within-ts order
      .as[BookEvent]
  }

  /** Replay input re-keyed to (pair, time-slice) groups. Slice `s` owns
    * episodes in `(s·W, (s+1)·W]`; each group is prefixed with *seed*
    * rows — the orders standing at the slice boundary, found
    * declaratively from validity intervals (`micro ≤ s·W < next`, the
    * same predicate as `obanalytics.order_book`,
    * `db/obanalytics_schema.sql:2061-2063`) — so groups replay
    * independently yet concatenate to the sequential answer. An order
    * seeds every boundary its interval covers (`explode(sequence)`),
    * capped to slices that actually hold events. */
  private[graft] def slicedEvents(level3: DataFrame, spark: SparkSession,
      sliceMicros: Long): Dataset[SlicedEvent] = {
    import spark.implicits._
    val W = sliceMicros
    val sliceOf = expr(s"(microtimestamp - 1) div $W")
    // min/max slice per pair: Catalyst prunes the level3 window
    // expressions here (only pair_id + microtimestamp survive), so this
    // is a cheap pre-scan, and the 1-row-per-pair result broadcasts.
    val bounds = level3.groupBy("pair_id")
      .agg(min(sliceOf).as("min_slice"), max(sliceOf).as("max_slice"))
    // Boundaries b=s·W covered by the row's validity interval:
    // ceil(micro/W) ≤ s ≤ (next-1) div W, clamped to slices with data;
    // deleted rows have empty intervals and generate no seeds. One
    // generator per row emits the row's own slice plus every boundary
    // it seeds — a single evaluation of the level3 plan, no self-union.
    val lo = greatest(expr(s"(microtimestamp + ${W - 1}) div $W"),
      col("min_slice") + 1)
    val hi = least(expr(s"(next_microtimestamp - 1) div $W"), col("max_slice"))
    level3
      .join(broadcast(bounds), "pair_id")
      .withColumn("real_slice", sliceOf)
      .withColumn("slice",
        explode(when(lo <= hi,
          concat(array(col("real_slice")), sequence(lo, hi)))
          .otherwise(array(col("real_slice")))))
      .select(
        col("pair_id").as("pairId"),
        col("slice"),
        (col("slice") =!= col("real_slice")).as("seed"),
        (col("slice") > col("min_slice")).as("hasHistory"),
        col("microtimestamp").as("ts"),
        col("order_id").as("orderId"),
        col("side"), col("price"), col("amount"),
        col("is_deleted").as("isDeleted"),
        col("event_id"))
      .as[SlicedEvent]
  }

  /** Replays each (pair, slice) group of `events` in (ts, event_id)
    * order through `kernel` (pair, sorted events). */
  private def replaySlices[U: Encoder](events: Dataset[SlicedEvent])(
      kernel: (Int, Iterator[SlicedEvent]) => Iterator[U]): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(e => (e.pairId, e.slice))
      .flatMapSortedGroups(col("ts"), col("event_id")) { case ((pair, _), it) =>
        kernel(pair, it)
      }
      .toDF()
  }

  /** Level-1 spread stream: (pair_id, ts, bid/ask price+qty), one row per
    * episode where the quote changed (reference: `spread_by_episode_fast`,
    * `db/c/obadiah_db/obadiah_db.cpp:270-363`). Runs as seeded
    * (pair, slice) groups — output identical to one sequential pass per
    * pair, parallelism proportional to the time span. */
  def spread(level3: DataFrame, spark: SparkSession,
      sliceMicros: Long = DefaultSliceMicros): DataFrame = {
    import spark.implicits._
    replaySlices(slicedEvents(level3, spark, sliceMicros))(Replay.l1Sliced)
  }

  /** Single-group-per-pair twin of [[spread]] (differential testing). */
  private[graft] def spreadUnsliced(level3: DataFrame, spark: SparkSession): DataFrame = {
    import spark.implicits._
    bookEvents(level3, spark)
      .groupByKey(_.pairId)
      .flatMapSortedGroups($"ts", $"event_id")((pair, it) => Replay.l1(pair, it))
      .toDF()
  }

  /** Level-2 depth-change stream (reference:
    * `depth_change_by_episode_fast`, `db/c/obadiah_db/obadiah_db.cpp:171-268`). */
  def depthChanges(level3: DataFrame, spark: SparkSession,
      sliceMicros: Long = DefaultSliceMicros): DataFrame = {
    import spark.implicits._
    replaySlices(slicedEvents(level3, spark, sliceMicros))(Replay.l2Sliced)
  }

  /** [[depthChanges]] at a level2 precision tier — the reference's
    * `precision` storage dimension (`r0|p0..p4` LIST partitions of
    * `level2`, `db/obanalytics_schema.sql:234-316`) as a
    * materialization option on the depth writer. The reference
    * provisions the tiers but its own query surface reads only `r0`
    * (`:1658`) and its depth engine emits p0 = unrounded prices
    * (`:1244`); semantics here: `r0`/`p0` = the pair's native wire
    * scale (this is [[depthChanges]] unchanged), `pN` (N = 1..4) =
    * prices rounded N digits coarser than the pair's `R0`
    * (`round(price, R0−N)`) BEFORE replay, so each coarse level
    * aggregates its member orders' volume — the zoomed-out depth
    * ladder a storage tier holds. Rounding before the replay keeps the
    * tier a pure input transform: the kernel, slicing, and emission
    * rules are identical at every precision. */
  def depthChangesAtPrecision(level3: DataFrame, spark: SparkSession,
      precision: String,
      sliceMicros: Long = DefaultSliceMicros): DataFrame =
    depthChanges(atPrecision(level3, precision), spark, sliceMicros)

  /** `precision` lower-cased, if it names a level2 tier (`r0`, `p0`..`p4`);
    * otherwise fails. The depth operators and the level2 lake's writer
    * and reader all take their tier through here. */
  private[graft] def precisionTier(precision: String): String = {
    val p = precision.toLowerCase
    require(Set("r0", "p0", "p1", "p2", "p3", "p4")(p),
      s"invalid precision: $precision. Valid values are r0, p0, p1, p2, p3, p4")
    p
  }

  /** level3 with prices on the `precision` tier's grid: unchanged at
    * `r0`/`p0`, rounded N digits coarser than the pair's `R0` at `pN`. */
  private def atPrecision(level3: DataFrame, precision: String): DataFrame =
    precisionTier(precision) match {
      case "r0" | "p0" => level3
      case p => level3.withColumn("price", Dimensions.roundPriceCoarser(
        col("pair_id"), col("price"), p.substring(1).toInt))
    }

  /** [[depthWindow]] at a coarser precision tier: prices rounded
    * BEFORE replay exactly as [[depthChangesAtPrecision]] (the tier is
    * a pure input transform — kernel, slicing and window rules are
    * identical at every precision), then the same starting-book ∪
    * changes window. The SQL TVF `depth('l3', t0, t1, 'p2')` lowers
    * here (reference exposes precision as a `get.depth` parameter,
    * `db/get_schema.sql:239-245`). */
  def depthWindowAtPrecision(level3: DataFrame, spark: SparkSession,
      t0: Long, t1: Long, precision: String,
      sliceMicros: Long = DefaultSliceMicros): DataFrame =
    depthWindow(atPrecision(level3, precision), spark, t0, t1, sliceMicros)

  /** Single-group-per-pair twin of [[depthChanges]] (differential testing). */
  private[graft] def depthChangesUnsliced(level3: DataFrame, spark: SparkSession): DataFrame = {
    import spark.implicits._
    bookEvents(level3, spark)
      .groupByKey(_.pairId)
      .flatMapSortedGroups($"ts", $"event_id")((pair, it) => Replay.l2(pair, it))
      .toDF()
  }

  /** Effective-price (trading period) stream for a fixed volume —
    * kernel walk per episode (reference `get.trading_period`). */
  def tradingPeriod(level3: DataFrame, spark: SparkSession,
      volumeUnits: Long, sliceMicros: Long = DefaultSliceMicros): DataFrame = {
    import spark.implicits._
    replaySlices(slicedEvents(level3, spark, sliceMicros))(
      Replay.tradingPeriodSliced(_, _, volumeUnits))
  }

  /** L1 ticks annotated with the era they fall into — the parallel unit
    * for the sequential operators below (reference: books and their
    * derived series never cross eras, `db/obanalytics_schema.sql:2104-2124`,
    * so a request spanning eras concatenates era-local results). The
    * eras dimension is tiny → broadcast asof-range join. */
  private def spreadWithEra(level3: DataFrame, spark: SparkSession): DataFrame = {
    val w = Window.partitionBy("pair_id").orderBy("era")
    val eras = Level3Source.eras(level3)
      .withColumn("next_era",
        coalesce(lead("era", 1).over(w), lit(Long.MaxValue)))
      .select("pair_id", "era_no", "era", "next_era")
    spread(level3, spark)
      .join(broadcast(eras), Seq("pair_id"))
      .where(col("ts") >= col("era") && col("ts") < col("next_era"))
      .drop("era", "next_era")
  }

  /** Optimal-strategy positions over the L1 stream (reference
    * `get.trading_strategy` / `src/position_discovery.cpp`). One
    * sequential state machine per (pair, era): positions cannot span an
    * era boundary (the book restarts from empty), matching the
    * reference and bounding any single task to one era's quote stream. */
  def tradingStrategy(level3: DataFrame, spark: SparkSession,
      phi: Double, rho: Double): DataFrame = {
    import spark.implicits._
    spreadWithEra(level3, spark)
      .select(col("pair_id"), col("era_no"), col("ts"),
        col("bid_price").as("bid"), col("ask_price").as("ask"))
      .as[graft.sequential.QuoteE]
      .groupByKey(q => (q.pair_id, q.era_no))
      .flatMapSortedGroups($"ts") { case ((pair, _), it) =>
        graft.sequential.TradingStrategyOp.positions(pair, it.map(_.toQuote), phi, rho)
      }
      .toDF()
  }

  /** ε-drawup/drawdown segmentation of the mid-price path (reference
    * `src/epsilon_drawupdowns.cpp`). One-sided and crossed quotes are
    * skipped before segmentation; one machine per (pair, era). */
  def epsilonDraws(level3: DataFrame, spark: SparkSession,
      epsilon: Double): DataFrame = {
    import spark.implicits._
    spreadWithEra(level3, spark)
      .filter(col("bid_price").isNotNull && col("ask_price").isNotNull &&
        col("bid_price") <= col("ask_price"))
      .select(col("pair_id"), col("era_no"), col("ts"),
        ((col("bid_price") + col("ask_price")) / 2.0).as("mid"))
      .as[(Int, Long, Long, Double)]
      .groupByKey(r => (r._1, r._2))
      .flatMapSortedGroups($"ts") { case ((pair, _), it) =>
        graft.sequential.EpsilonDrawsOp.draws(pair, it.map(r => (r._3, r._4)), epsilon)
      }
      .toDF()
  }

  /** Windowed depth API: starting book at t0 + changes in (t0, t1]
    * (reference `get.depth` / `level2_continuous`,
    * `db/obanalytics_schema.sql:1627-1661`). The starting depth is a
    * declarative validity-interval snapshot (filter + groupBy — fully
    * parallel, amounts are integral so summation order is immaterial);
    * the change stream is the sliced L2 replay restricted to slices
    * overlapping (t0, t1] — slices entirely before t0 contribute only
    * through seed rows, so no replay outside the window. */
  def depthWindow(level3: DataFrame, spark: SparkSession,
      t0: Long, t1: Long, sliceMicros: Long = DefaultSliceMicros): DataFrame =
    startingDepth(level3, t0)
      .unionByName(depthChangesWindow(level3, spark, t0, t1, sliceMicros))

  /** Reference `_starting_depth`: the standing book at `t0` as one
    * depth row per (pair, side, price), stamped `ts = t0`. A
    * declarative validity-interval snapshot (filter + groupBy — fully
    * parallel, amounts are integral so summation order is
    * immaterial). */
  def startingDepth(level3: DataFrame, t0: Long): DataFrame = {
    val t = instant(t0)
    level3
      .filter(col("microtimestamp") <= t && col("next_microtimestamp") > t)
      .groupBy("pair_id", "side", "price")
      .agg(sum("amount").as("volume"))
      .select(col("pair_id").cast("long").as("pair_id"),
        t.as("ts"),
        when(col("side") === "b", "bid").otherwise("ask").as("side"),
        col("price"), col("volume"))
  }

  /** The change stream alone, in (t0, t1] — the cacheable part of
    * `get.depth` (the reference's client caches exactly this split so
    * the starting snapshot never distorts the interval cache,
    * `R/obanalytics.R:366-407`): sliced L2 replay restricted to slices
    * overlapping (t0, t1] — slices entirely before t0 contribute only
    * through seed rows, so no replay outside the window. */
  def depthChangesWindow(level3: DataFrame, spark: SparkSession,
      t0: Long, t1: Long, sliceMicros: Long = DefaultSliceMicros): DataFrame = {
    import spark.implicits._
    // slice s owns episodes in (s·W, (s+1)·W] — keep s touching (t0, t1]
    replaySlices(slicedEvents(level3, spark, sliceMicros)
      .where(col("slice") >= t0 / sliceMicros &&
        col("slice") <= (t1 - 1) / sliceMicros))(Replay.l2Sliced)
      .filter(col("ts") > t0 && col("ts") <= t1)
      .select(col("pair_id").cast("long").as("pair_id"), col("ts"),
        when(col("side") === "b", "bid").otherwise("ask").as("side"),
        col("price"), col("volume"))
  }

  /** Declarative depth-change twin: unpivot each level3 row into a
    * (+amount at start, −amount at end) pair and take a running sum per
    * (pair, side, price) — the validity-interval formulation of the same
    * quantity, all stock Catalyst (used for differential testing and as
    * the shuffle-friendly path when only a few price levels matter). */
  def depthChangesSql(level3: DataFrame): DataFrame = {
    // A deleted event's empty interval contributes +a and −a at the same
    // (price, ts) and cancels in the per-ts grouping below.
    val start = level3
      .select(col("pair_id"), col("microtimestamp").as("ts"), col("side"),
        col("price"), col("amount").as("delta"))
    val end = level3
      .select(col("pair_id"), col("next_microtimestamp").as("ts"), col("side"),
        col("price"), (-col("amount")).as("delta"))
      .filter(col("ts") < Level3Source.AliveMicros)
    val deltas = start.unionByName(end)
      .filter(col("delta") =!= 0)
      .groupBy("pair_id", "side", "price", "ts")
      .agg(sum("delta").as("delta"))
      .filter(col("delta") =!= 0)
    val w = Window.partitionBy("pair_id", "side", "price").orderBy("ts")
      .rowsBetween(Window.unboundedPreceding, 0)
    deltas
      .withColumn("volume", sum("delta").over(w))
      .select("pair_id", "ts", "side", "price", "volume")
  }

  /** `depth.changes` with chain ids (reference
    * `src/order_book_investigation.h:277-355`): per-level volume deltas,
    * each tagged with a *chain id* linking deltas of equal |volume| on
    * the same side (the reference's order-chain heuristic — a
    * first-seen map |Δ| → id with one counter per pair), plus the
    * prevailing pre-episode best bid/ask. Chain ids are ranked by first
    * occurrence in (ts, side, price) order — the declarative stand-in
    * for the reference's stream-encounter order within an episode. */
  def depthChangeChains(level3: DataFrame, spark: SparkSession): DataFrame = {
    val start = level3.select(col("pair_id"), col("microtimestamp").as("ts"),
      col("side"), col("price"), col("amount").as("delta"))
    val end = level3.select(col("pair_id"),
      col("next_microtimestamp").as("ts"), col("side"), col("price"),
      (-col("amount")).as("delta"))
      .filter(col("ts") < Level3Source.AliveMicros)
    val deltas = start.unionByName(end)
      .groupBy("pair_id", "side", "price", "ts")
      .agg(sum("delta").as("delta"))
      .filter(col("delta") =!= 0)
      // feeds the chain-id window AND the attach join (r17): without
      // the lazy checkpoint both branches re-evaluated the union of
      // two level3 scans + the aggregate — the single-evaluation rule
      // of docs/PLANS.md
      .localCheckpoint(false)
    val wKey = Window.partitionBy(col("pair_id"), col("side"),
      abs(col("delta")))
      .orderBy("ts", "side", "price")
    val wChain = Window.partitionBy("pair_id")
      .orderBy("ts", "side", "price")
    val chains = deltas
      .withColumn("krn", row_number().over(wKey))
      .filter(col("krn") === 1)
      .select(col("pair_id").as("c_pair_id"), col("side").as("c_side"),
        abs(col("delta")).as("absd"),
        row_number().over(wChain).cast("long").as("chain_id"))
    val dch = deltas.join(chains,
      col("pair_id") === col("c_pair_id") &&
        col("side") === col("c_side") &&
        abs(col("delta")) === col("absd"))
      .select(col("pair_id"), col("ts"), col("side"), col("price"),
        col("delta"), col("chain_id"))
    // pre-episode prevailing quote: changes (k=0) see only ticks (k=1)
    // strictly before their episode
    val ticks = spread(level3, spark).select(col("pair_id"), col("ts"),
      lit(1).as("kind"), lit(null).cast("string").as("side"),
      lit(null).cast("double").as("price"),
      lit(null).cast("double").as("delta"),
      lit(null).cast("long").as("chain_id"),
      col("bid_price").as("sb"), col("ask_price").as("sa"))
    // slice-parallel as-of (AsofSlicing): changes (kind 0) see only
    // ticks (kind 1) strictly before their episode, per (pair, slice)
    AsofSlicing.carry(
        dch.withColumn("kind", lit(0))
          .withColumn("sb", lit(null).cast("double"))
          .withColumn("sa", lit(null).cast("double"))
          .unionByName(ticks),
        Seq("sb", "sa"))
      .filter(col("kind") === 0)
      .select(col("pair_id"), col("ts"), col("side"), col("price"),
        col("delta"), col("chain_id"),
        col("sb_asof").as("bid_price"), col("sa_asof").as("ask_price"))
  }

  /** Instantaneous spread at an instant (reference `get.spread`'s
    * second overload over `_starting_depth`, `db/get_schema.sql:645-682`):
    * best bid/ask price and the total quantity resting at each. */
  def spreadAt(level3: DataFrame, tsMicros: Long): DataFrame = {
    val t = instant(tsMicros)
    val snap = level3
      .filter(col("microtimestamp") <= t && col("next_microtimestamp") > t)
      .groupBy("pair_id", "side", "price")
      .agg(sum("amount").as("qty"))
    val w = Window.partitionBy("pair_id", "side")
      .orderBy(when(col("side") === "b", -col("price")).otherwise(col("price")))
    snap
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy("pair_id")
      .agg(
        max(when(col("side") === "b", col("price"))).as("bid_price"),
        max(when(col("side") === "b", col("qty"))).as("bid_qty"),
        max(when(col("side") === "s", col("price"))).as("ask_price"),
        max(when(col("side") === "s", col("qty"))).as("ask_qty"))
      .withColumn("ts", t)
  }

  /** Diff of the books standing at two instants: synthetic
    * created/deleted/changed rows per order (reference
    * `bitfinex._diff_order_books` — channel-reconnect reconciliation,
    * `db/bitfinex_schema.sql:83-125`). A full-outer join on
    * (pair, order_id) of the two snapshots. */
  def bookDiff(level3: DataFrame, ts1: Long, ts2: Long): DataFrame = {
    // One scan, no join: an order's validity intervals are disjoint, so
    // at most one row is live at each instant — conditional aggregation
    // per order reconstructs both snapshot states (the semantic
    // equivalent of the reference's full-outer snapshot join, at half
    // the scan cost and zero join shuffle width).
    val live1 = col("microtimestamp") <= ts1 && col("next_microtimestamp") > ts1
    val live2 = col("microtimestamp") <= ts2 && col("next_microtimestamp") > ts2
    level3
      .filter(live1 || live2)
      .select(col("pair_id"), col("order_id"), col("side"), col("price"),
        col("amount"), live1.as("l1"), live2.as("l2"))
      .groupBy("pair_id", "order_id")
      .agg(
        max(when(col("l1"), col("side"))).as("a_side"),
        max(when(col("l1"), col("price"))).as("a_price"),
        max(when(col("l1"), col("amount"))).as("a_amount"),
        max(when(col("l2"), col("side"))).as("b_side"),
        max(when(col("l2"), col("price"))).as("b_price"),
        max(when(col("l2"), col("amount"))).as("b_amount"))
      .select(col("pair_id"), col("order_id"),
        coalesce(col("b_side"), col("a_side")).as("side"),
        col("a_price"), col("a_amount"), col("b_price"), col("b_amount"),
        when(col("a_side").isNull, "created")
          .when(col("b_side").isNull, "deleted")
          .when(col("a_price") =!= col("b_price") ||
            col("a_amount") =!= col("b_amount"), "changed")
          .otherwise("unchanged").as("change"))
      .filter(col("change") =!= "unchanged")
  }

  /** Order-book snapshot at time `ts` (µs): all orders whose validity
    * interval covers ts (reference: `obanalytics.order_book`,
    * `db/obanalytics_schema.sql:2035-2075`), with the reference's full
    * parameter surface:
    *   - `before` — the left-open variant (`micro < ts ≤ next`,
    *     reference `p_before`);
    *   - `side` — restrict to one side *before* the maker/crossed
    *     windows (as the reference does: a one-sided book is all
    *     makers);
    *   - `onlyMakers` — keep maker rows only (`p_only_makers`);
    *   - `checkTakers` — the reference *raises* on a standing crossing
    *     order that is not deleted at its own episode
    *     (`_is_valid_taker_event`, `db/obanalytics_schema.sql:888-903`);
    *     a distributed query can't abort per-row, so invalid takers are
    *     excluded here instead (`GridOps.dqReport` counts them).
    * Pure filter — Catalyst pushes `microtimestamp <= ts` into the
    * parquet scan. */
  def orderBookAt(level3: DataFrame, tsMicros: Long,
      onlyMakers: Boolean = false, before: Boolean = false,
      checkTakers: Boolean = false, side: Option[String] = None): DataFrame = {
    val t = instant(tsMicros)
    val validity =
      if (before)
        col("microtimestamp") < t && col("next_microtimestamp") >= t
      else
        col("microtimestamp") <= t && col("next_microtimestamp") > t
    val snap = side.fold(level3.filter(validity))(s =>
      level3.filter(validity && col("side") === s))
    val flagged = snap
      .withColumn("is_maker", makerFlag)
      .withColumn("is_crossed", crossedFlag)
    // reference WHERE: is_maker OR (NOT only_makers AND
    //   (NOT check_takers OR (NOT is_maker AND valid_taker)));
    // valid_taker ⇔ the crossing event is its order's deletion
    val validTaker = col("is_deleted")
    flagged.filter(col("is_maker") ||
      (lit(!onlyMakers) && (lit(!checkTakers) ||
        (!col("is_maker") && validTaker))))
  }

  /** is_maker: the order's price does not cross the best opposite price
    * among orders priced earlier (running conditional extremes over
    * price-time order — reference `db/obanalytics_schema.sql:2043-2053`). */
  private def makerFlag = {
    val w = Window.partitionBy("pair_id")
      .orderBy("price_microtimestamp", "microtimestamp", "order_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val minAsk = min(when(col("side") === "s", col("price"))).over(w)
    val maxBid = max(when(col("side") === "b", col("price"))).over(w)
    when(col("side") === "b", col("price") < coalesce(minAsk, lit(Double.MaxValue)))
      .otherwise(col("price") > coalesce(maxBid, lit(Double.MinValue)))
  }

  private def crossedFlag = {
    val w = Window.partitionBy("pair_id")
      .orderBy(col("price_microtimestamp").desc, col("microtimestamp").desc,
        col("order_id").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val minAsk = min(when(col("side") === "s", col("price"))).over(w)
    val maxBid = max(when(col("side") === "b", col("price"))).over(w)
    when(col("side") === "b", col("price") >= coalesce(minAsk, lit(Double.MaxValue)))
      .otherwise(col("price") <= coalesce(maxBid, lit(Double.MinValue)))
  }

  /** API-level snapshot (reference `get.order_book`,
    * `db/get_schema.sql:561-603`): the live orders at `tsMicros` with
    * per-side cumulative liquidity, bps distance from the best price,
    * dense-ranked price levels, and the reference's result filters —
    * `maxLevels`, `p_bps_range` (≤ bps from best), `p_min_bid` (bids at
    * or above) and `p_max_ask` (asks at or below),
    * `db/get_schema.sql:596-599`.
    *
    * Plan: the validity filter (pushed into the parquet scan), one
    * exchange on (pair_id, side), then [[BookLevels]] over each
    * partition, then the filters. The filters come after the kernel
    * because `lvl` and `bps` are taken over the whole side. The
    * columns are the input's plus `liquidity` (double), `lvl` (int)
    * and `bps` (double). */
  def orderBookQuery(level3: DataFrame, tsMicros: Long,
      maxLevels: Option[Int] = None,
      bpsRange: Option[Double] = None,
      minBid: Option[Double] = None,
      maxAsk: Option[Double] = None): DataFrame = {
    val t = instant(tsMicros)
    val snap = level3
      .filter(col("microtimestamp") <= t && col("next_microtimestamp") > t)
    val levels = new BookLevels(snap.schema)
    val out = snap.repartition(col("pair_id"), col("side"))
      .mapPartitions(levels)(Encoders.row(levels.outSchema))
    val f1 = maxLevels.fold(out)(n => out.filter(col("lvl") <= n))
    val f2 = bpsRange.fold(f1)(r => f1.filter(col("bps") <= r))
    val f3 = minBid.fold(f2)(p => f2.filter(col("side") =!= "b" ||
      col("price") >= p))
    maxAsk.fold(f3)(p => f3.filter(col("side") =!= "s" ||
      col("price") <= p))
  }
}

/** A long literal whose generated code reads its value by reference
  * (see `MarketOps.instant`). The constructor takes `Literal`'s two
  * fields, so Catalyst can still copy the node by reflection. */
private final class InstantLiteral(v: Any, t: DataType) extends Literal(v, t) {
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("instant", value, "java.lang.Long")
    ExprCode.forNonNullValue(JavaCode.expression(s"$ref.longValue()", LongType))
  }
}

/** `get.order_book`'s per-side columns over one shuffle partition of
  * live orders; every (pair_id, side) lies in one partition. The
  * kernel sorts the partition's rows by (pair_id, side, best-first
  * price, microtimestamp, order_id), best-first being descending for
  * bids (`side = 'b'`) and ascending otherwise, then walks each
  * (pair_id, side) run once:
  *   - `liquidity` — running sum of `amount` in that order, added left
  *     to right from 0.0 as Spark's running window sum does, so the
  *     doubles are bit-identical; null amounts are skipped;
  *   - `lvl` — dense rank of the price (1 = best);
  *   - `bps` — `|price − best| / best × 10000`, best being the side's
  *     max (bids) or min (asks) price; null when best is 0.
  * Prices compare as Spark compares doubles: nulls first, NaN above
  * every number. `pair_id` (int), `side`, `microtimestamp` and
  * `order_id` (long) are non-null in a level3 log. */
private final class BookLevels(in: StructType)
    extends (Iterator[Row] => Iterator[Row]) with Serializable {
  private val Array(pairI, sideI, priceI, amountI, tsI, oidI) =
    Array("pair_id", "side", "price", "amount", "microtimestamp", "order_id")
      .map(in.fieldIndex)

  def outSchema: StructType = StructType(in.fields ++ Seq(
    StructField("liquidity", DoubleType),
    StructField("lvl", IntegerType, nullable = false),
    StructField("bps", DoubleType)))

  // Spark's double order: -0.0 = 0.0, NaN greatest
  private def cmpDouble(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  // the window form's sort key: -price for bids, price otherwise
  private def cmpPrice(a: Row, b: Row, bid: Boolean): Int =
    (a.isNullAt(priceI), b.isNullAt(priceI)) match {
      case (true, true) => 0
      case (true, false) => -1
      case (false, true) => 1
      case _ =>
        val (x, y) = (a.getDouble(priceI), b.getDouble(priceI))
        if (bid) cmpDouble(-x, -y) else cmpDouble(x, y)
    }

  private def sameSide(a: Row, b: Row): Boolean =
    a.getInt(pairI) == b.getInt(pairI) && a.getString(sideI) == b.getString(sideI)

  private def compare(a: Row, b: Row): Int = {
    var c = Integer.compare(a.getInt(pairI), b.getInt(pairI))
    if (c == 0) c = a.getString(sideI).compareTo(b.getString(sideI))
    if (c == 0) c = cmpPrice(a, b, a.getString(sideI) == "b")
    if (c == 0) c = java.lang.Long.compare(a.getLong(tsI), b.getLong(tsI))
    if (c == 0) c = java.lang.Long.compare(a.getLong(oidI), b.getLong(oidI))
    c
  }

  def apply(rows: Iterator[Row]): Iterator[Row] = {
    val live = rows.toArray
    java.util.Arrays.sort(live, (a: Row, b: Row) => compare(a, b))
    val out = new Array[Row](live.length)
    var i = 0
    while (i < live.length) {
      var j = i + 1
      while (j < live.length && sameSide(live(i), live(j))) j += 1
      val bid = live(i).getString(sideI) == "b"
      var best = 0.0
      var hasBest = false
      var k = i
      while (k < j) {
        if (!live(k).isNullAt(priceI)) {
          val p = live(k).getDouble(priceI)
          if (!hasBest || (if (bid) cmpDouble(p, best) > 0 else cmpDouble(p, best) < 0))
            best = p
          hasBest = true
        }
        k += 1
      }
      var liquidity = 0.0
      var hasLiquidity = false
      var lvl = 0
      k = i
      while (k < j) {
        val r = live(k)
        if (k == i || cmpPrice(live(k - 1), r, bid) != 0) lvl += 1
        if (!r.isNullAt(amountI)) {
          liquidity += r.getDouble(amountI)
          hasLiquidity = true
        }
        val bps =
          if (r.isNullAt(priceI) || !hasBest || best == 0.0) null
          else math.abs(r.getDouble(priceI) - best) / best * 10000.0
        out(k) = Row.fromSeq(r.toSeq ++
          Seq(if (hasLiquidity) liquidity else null, lvl, bps))
        k += 1
      }
      i = j
    }
    out.iterator
  }
}
