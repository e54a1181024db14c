package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.Tables.tsMicros
import graft.pipeline.TextPipeline

/** r17 shape-parity guards: each optimization that restructured an
  * operator's internals (single-exchange level3 build, window-count
  * duplicate detection, binary-key single-pass winnow screen, the
  * full-outer parity gauge) is pinned against an inline copy of the
  * r16 reference shape — row-set equality via exceptAll both ways, so
  * a future "optimization" that drifts semantics fails here before it
  * reaches the oracle gate. */
class ShapeParitySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-shape-parity")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.schema.map(f => (f.name, f.dataType)) ==
      b.schema.map(f => (f.name, f.dataType)),
      s"schema drift:\n${a.schema}\n${b.schema}")
    val extraA = a.exceptAll(b).count()
    val extraB = b.exceptAll(a).count()
    assert(extraA == 0 && extraB == 0,
      s"row drift: $extraA only-in-reference, $extraB only-in-optimized")
  }

  test("level3 single-exchange build equals the three-window r16 shape") {
    val events = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .localCheckpoint(false)
    // r16 reference shape, inlined verbatim
    val base = events.select(
      col("event_id"),
      tsMicros(col("ts")).as("microtimestamp"),
      col("user_id"),
      ((col("user_id") % 3) + 1).cast("int").as("pair_id"),
      when(col("user_id") % 2 === 0, "b").otherwise("s").as("side"),
      when(col("user_id") % 2 === 0, col("value"))
        .otherwise(col("value") + 80.0).as("price"),
      ((col("event_id") % 20) + 1).cast("double").as("amount"),
      when(col("event_type") === "error", 1).otherwise(0).as("del_flag"))
    val wUser = Window.partitionBy("user_id")
      .orderBy("microtimestamp", "event_id")
    val withOrder = base.withColumn(
      "order_id",
      col("user_id") * 1000 + coalesce(
        sum("del_flag").over(
          wUser.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val wOrd = Window.partitionBy("order_id")
      .orderBy("microtimestamp", "event_id")
    val evt = withOrder
      .withColumn("event_no", row_number().over(wOrd))
      .withColumn("prev_amount", lag("amount", 1).over(wOrd))
      .withColumn("lead_ts", lead("microtimestamp", 1).over(wOrd))
      .withColumn("prev_price", lag("price", 1).over(wOrd))
      .withColumn("price_chg",
        when(col("prev_price").isNull ||
          col("price") =!= col("prev_price"), 1).otherwise(0))
      .withColumn("price_group",
        sum("price_chg").over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
    val wChain = Window.partitionBy("order_id", "price_group")
    val reference = evt.select(
      col("microtimestamp"), col("order_id"), col("event_no"),
      col("side"), col("price"), col("amount"),
      when(col("prev_amount") > col("amount"),
        col("prev_amount") - col("amount")).as("fill"),
      when(col("del_flag") === 1, col("microtimestamp"))
        .otherwise(coalesce(col("lead_ts"),
          lit(graft.market.Level3Source.AliveMicros)))
        .as("next_microtimestamp"),
      (col("del_flag") === 1).as("is_deleted"),
      min("microtimestamp").over(wChain).as("price_microtimestamp"),
      min("event_no").over(wChain).as("price_event_no"),
      col("pair_id"),
      graft.market.Dimensions.exchangeOfPair(col("pair_id"))
        .as("exchange_id"),
      col("event_id"))
    assertSameRows(reference, graft.market.Level3Source.level3(events))
  }

  test("charSpanDedup window-count equals the agg+semi r16 shape") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .localCheckpoint(false)
    val L = 16
    // r16 reference: 128-bit gram keys, groupBy + left_semi, then the
    // same gaps-and-islands span merge the operator uses today
    val grams = docs.select(col("doc_id"), col("text"),
        explode(when(length(col("text")) >= L,
          sequence(lit(1), length(col("text")) - lit(L - 1)))
          .otherwise(array())).as("pos"))
      .select(col("doc_id"), col("pos"),
        xxhash64(expr(s"substring(text, pos, $L)")).as("h1"),
        xxhash64(lit("csd#2"), expr(s"substring(text, pos, $L)")).as("h2"))
    val dupHashes = grams.groupBy("h1", "h2")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select("h1", "h2")
    val flagged = grams.join(dupHashes, Seq("h1", "h2"), "left_semi")
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val prevEnd = max(col("pos") + lit(L - 1))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val reference = flagged
      .withColumn("ni",
        when(prevEnd.isNull || col("pos") > prevEnd + 1, 1).otherwise(0))
      .withColumn("island", sum(col("ni")).over(byDoc))
      .groupBy("doc_id", "island")
      .agg(min(col("pos")).as("sp"), (max(col("pos")) + lit(L - 1)).as("ep"))
      .withColumn("span_no", row_number().over(
        Window.partitionBy("doc_id").orderBy("sp")).cast("long"))
      .select(col("doc_id"), col("span_no"),
        col("sp").cast("long").as("s"), col("ep").cast("long").as("e"))
    assertSameRows(reference, TextPipeline.charSpanDedup(docs, L))
  }

  test("winnow screen binary-key single-pass equals the r16 shape") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .localCheckpoint(false)
    val L = 16
    val w = 8
    // r16 reference: md5 HEX selection, groupBy dup + semi + two
    // per-doc aggregates + join
    val g = docs.select(col("doc_id"), col("text"),
        explode(when(length(col("text")) >= L,
          sequence(lit(1), length(col("text")) - lit(L - 1)))
          .otherwise(array())).as("pos"))
      .select(col("doc_id"), col("pos"),
        md5(expr(s"substring(text, pos, $L)")).as("h"))
    val trail = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(-(w - 1), 0)
    val sel = g
      .withColumn("m",
        min(struct(col("h"), (-col("pos")).as("negpos"))).over(trail))
      .select(col("doc_id"),
        (-col("m.negpos")).cast("long").as("pos"),
        xxhash64(col("m.h")).as("h1"),
        xxhash64(lit("cw#2"), col("m.h")).as("h2"))
      .distinct()
    val dup = sel.groupBy("h1", "h2").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select("h1", "h2")
    val hits = sel.join(dup, Seq("h1", "h2"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_selected"))
    val reference = sel.groupBy("doc_id")
      .agg(count(lit(1)).as("n_selected"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_selected"),
        coalesce(col("n_dup_selected"), lit(0L)).as("n_dup_selected"),
        (coalesce(col("n_dup_selected"), lit(0L)) > 0).as("is_flagged"))
    assertSameRows(reference, TextPipeline.charDupDocsWinnowed(docs, L, w))
  }

  test("word-gram pass (post-explode codegen hash) equals the HOF r16 shape") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .localCheckpoint(false)
    val L = 8
    // r16 reference gram pass: md5 inside a transform(...) lambda,
    // driven through the same dup-agg + semi + span report the
    // operator used (substringDedup's public output pins the whole
    // chain, so any (pos, h) drift in the rewritten gramPositions
    // surfaces as span/clean_md5 drift here)
    val w = docs.withColumn("words", split(col("text"), " "))
    val grams = w.select(col("doc_id"),
        explode(when(size(col("words")) >= L,
          expr(s"transform(sequence(1, size(words) - ${L - 1}), " +
            s"i -> struct(i AS pos, " +
            s"md5(concat_ws(' ', slice(words, i, $L))) AS h))"))
          .otherwise(array())).as("g"))
      .select(col("doc_id"), col("g.pos").as("pos"), col("g.h").as("h"))
    val dupHashes = grams.groupBy("h").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select("h")
    val flagged = grams.join(dupHashes, Seq("h"), "left_semi")
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val prevEnd = max(col("pos") + lit(L - 1))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val spans = flagged
      .withColumn("ni",
        when(prevEnd.isNull || col("pos") > prevEnd + 1, 1).otherwise(0))
      .withColumn("island", sum(col("ni")).over(byDoc))
      .groupBy("doc_id", "island")
      .agg(min(col("pos")).as("s"), (max(col("pos")) + lit(L - 1)).as("e"))
    val perDoc = spans.groupBy("doc_id")
      .agg(count(lit(1)).as("dup_spans"),
        sum(col("e") - col("s") + 1).as("dup_words"),
        collect_list(struct(col("s"), col("e"))).as("ivs"))
    val reference = w.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("words")).cast("long").as("n_words"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        coalesce(col("dup_words"), lit(0L)).as("dup_words"),
        md5(when(col("ivs").isNull, concat_ws(" ", col("words")))
          .otherwise(expr("concat_ws(' ', filter(words, (wd, i) -> " +
            "NOT exists(ivs, iv -> i + 1 BETWEEN iv.s AND iv.e)))")))
          .as("clean_md5"))
    assertSameRows(reference, TextPipeline.substringDedup(docs, L))
  }

  test("continueBuild single-exchange equals the three-window r17 shape") {
    val events = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .localCheckpoint(false)
    val cut = Oracles.SnapshotMicros
    val first = events.filter(tsMicros(col("ts")) <= cut)
    val rest = events.filter(tsMicros(col("ts")) > cut)
    val batch1 = graft.market.Level3Source.level3(first)
      .join(first.select(col("event_id").as("u_eid"), col("user_id")),
        col("event_id") === col("u_eid"))
      .drop("u_eid")
      .localCheckpoint(false)
    val state = graft.market.Level3Source.openState(batch1)
      .localCheckpoint(false)
    // r17 reference shape, inlined verbatim: user window for the
    // incarnation counter, order window for numbering/neighbors,
    // (order, price_group) window for chain anchors
    val base = rest.select(
      col("event_id"),
      tsMicros(col("ts")).as("microtimestamp"),
      col("user_id"),
      ((col("user_id") % 3) + 1).cast("int").as("pair_id"),
      when(col("user_id") % 2 === 0, "b").otherwise("s").as("side"),
      when(col("user_id") % 2 === 0, col("value"))
        .otherwise(col("value") + 80.0).as("price"),
      ((col("event_id") % 20) + 1).cast("double").as("amount"),
      when(col("event_type") === "error", 1).otherwise(0).as("del_flag"),
      lit(false).as("carry"))
    val carryRows = state.filter(col("order_id").isNotNull).select(
      lit(-1L).as("event_id"),
      col("last_ts").as("microtimestamp"),
      col("user_id"),
      ((col("user_id") % 3) + 1).cast("int").as("pair_id"),
      when(col("user_id") % 2 === 0, "b").otherwise("s").as("side"),
      col("last_price").as("price"),
      col("last_amount").as("amount"),
      lit(0).as("del_flag"),
      lit(true).as("carry"))
    val st = state.select(col("user_id").as("s_user"),
      coalesce(col("del_base"), lit(0L)).as("del_base"),
      col("order_id").as("s_oid"), col("event_count"),
      col("chain_ts"), col("chain_eno"))
      .groupBy("s_user")
      .agg(max("del_base").as("del_base"), max("s_oid").as("s_oid"),
        max("event_count").as("event_count"),
        max("chain_ts").as("chain_ts"), max("chain_eno").as("chain_eno"))
    val wUser = Window.partitionBy("user_id")
      .orderBy("microtimestamp", "event_id")
    val all = base.unionByName(carryRows)
      .join(st, col("user_id") === col("s_user"), "left")
      .withColumn("order_id",
        col("user_id") * 1000 + coalesce(col("del_base"), lit(0L)) +
          coalesce(sum("del_flag").over(
            wUser.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val wOrd = Window.partitionBy("order_id")
      .orderBy("microtimestamp", "event_id")
    val continuing = col("order_id") === col("s_oid")
    val evt = all
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("event_no",
        when(continuing, col("rn") + col("event_count") - 1)
          .otherwise(col("rn")).cast("int"))
      .withColumn("prev_amount", lag("amount", 1).over(wOrd))
      .withColumn("lead_ts", lead("microtimestamp", 1).over(wOrd))
      .withColumn("prev_price", lag("price", 1).over(wOrd))
      .withColumn("price_chg",
        when(col("prev_price").isNull ||
          col("price") =!= col("prev_price"), 1).otherwise(0))
      .withColumn("price_group",
        sum("price_chg").over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
    val wChain = Window.partitionBy("order_id", "price_group")
    val built = evt
      .withColumn("chain_start_ts", min("microtimestamp").over(wChain))
      .withColumn("chain_start_eno", min("event_no").over(wChain))
      .withColumn("carried_chain",
        max(when(col("carry"), 1).otherwise(0)).over(wChain) === 1)
      .filter(!col("carry"))
    val refNew = built.select(
      col("microtimestamp"), col("order_id"), col("event_no"),
      col("side"), col("price"), col("amount"),
      when(col("prev_amount") > col("amount"),
        col("prev_amount") - col("amount")).as("fill"),
      when(col("del_flag") === 1, col("microtimestamp"))
        .otherwise(coalesce(col("lead_ts"),
          lit(graft.market.Level3Source.AliveMicros)))
        .as("next_microtimestamp"),
      (col("del_flag") === 1).as("is_deleted"),
      when(col("carried_chain"), col("chain_ts"))
        .otherwise(col("chain_start_ts")).as("price_microtimestamp"),
      when(col("carried_chain"), col("chain_eno"))
        .otherwise(col("chain_start_eno")).cast("int").as("price_event_no"),
      col("pair_id"),
      graft.market.Dimensions.exchangeOfPair(col("pair_id"))
        .as("exchange_id"),
      col("event_id"))
    val refCorr = built
      .filter(continuing && col("rn") === 2)
      .select(col("order_id"), (col("event_count")).as("event_no"),
        col("microtimestamp").as("new_next"))
    val (gotNew, gotCorr) =
      graft.market.Level3Source.continueBuild(rest, state)
    assertSameRows(refNew, gotNew)
    assertSameRows(refCorr, gotCorr)
  }

  test("scoped identity-skip is null-doc_id safe (skip disabled, semi path taken)") {
    import spark.implicits._
    // a saturated corpus (every screened doc flagged) PLUS one
    // null-keyed duplicated doc: a left_semi drops null join keys, so
    // the identity-skip must NOT fire — the guard counts null-keyed
    // screen rows and falls back to the semi join (judge r17 #6)
    val dup = "the same twenty-four-char duplicated run appears here"
    val base = Seq((10L, dup + " alpha tail"), (11L, dup + " beta tail"))
      .toDF("doc_id", "text")
    val withNull = base.unionByName(
      Seq((Option.empty[Long], dup + " gamma tail")).toDF("doc_id", "text"))
    val L = 24
    val w = 4
    // explicit semi-join shape — what the operator must equal exactly
    val flagged = TextPipeline.charDupDocsWinnowed(withNull, L, w)
      .filter(col("is_flagged")).select("doc_id")
    val reference = TextPipeline.charSpanDedup(
      withNull.join(flagged, Seq("doc_id"), "left_semi"), L)
    assertSameRows(reference,
      TextPipeline.charSpanDedupScoped(withNull, L, w))
    // and on the null-free saturated corpus both paths still agree
    // (here the skip DOES fire — same rows either way)
    val flagged2 = TextPipeline.charDupDocsWinnowed(base, L, w)
      .filter(col("is_flagged")).select("doc_id")
    val reference2 = TextPipeline.charSpanDedup(
      base.join(flagged2, Seq("doc_id"), "left_semi"), L)
    assertSameRows(reference2,
      TextPipeline.charSpanDedupScoped(base, L, w))
  }

  test("charScopedParity full-outer gauge equals the left-join + totals r16 shape") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .localCheckpoint(false)
    val L = 16
    val w = 8
    val exact = TextPipeline.charSpanDedup(docs, L)
      .select(col("doc_id"), col("s"), col("e"))
    val scoped = TextPipeline.charSpanDedupScoped(docs, L, w)
      .select(col("doc_id").as("sc_doc"), col("s").as("sc_s"),
        col("e").as("sc_e"))
    val joined = exact.join(scoped,
      col("doc_id") === col("sc_doc") && col("s") === col("sc_s") &&
        col("e") === col("sc_e"), "left")
    val scTot = scoped.agg(
      count(lit(1)).as("n_spans_scoped"),
      coalesce(sum(col("sc_e") - col("sc_s") + 1), lit(0L))
        .as("chars_scoped"))
    val reference = joined.agg(
        count(lit(1)).as("n_spans_exact"),
        count(col("sc_doc")).as("n_span_hits"),
        coalesce(sum(col("e") - col("s") + 1), lit(0L)).as("chars_exact"))
      .crossJoin(broadcast(scTot))
      .select(col("n_spans_exact"), col("n_spans_scoped"),
        col("n_span_hits"),
        when(col("n_spans_exact") === 0, lit(1000L))
          .otherwise(expr("(1000 * n_span_hits) div n_spans_exact"))
          .as("span_recall_milli"),
        col("chars_exact"), col("chars_scoped"))
    assertSameRows(reference, TextPipeline.charScopedParity(docs, L, w))
  }

  test("order-book kernel equals the three-window shape at seeded instants") {
    import spark.implicits._
    // pair 4: NaN and null prices and a null amount on both sides,
    // live from the fixture's start on
    val odd = Seq[(String, Option[Double], Option[Double])](
        ("b", Some(Double.NaN), Some(0.3)), ("b", Some(99.0), Some(0.1)),
        ("b", None, Some(0.2)), ("b", Some(99.0), None),
        ("s", Some(Double.NaN), Some(0.7)), ("s", Some(101.0), Some(0.1)),
        ("s", None, Some(0.2)))
      .zipWithIndex.map { case ((side, price, amount), i) =>
        (OrderBookFixture.Start, 900L + i, side, price, amount,
          graft.market.Level3Source.AliveMicros, 4)
      }
      .toDF("microtimestamp", "order_id", "side", "price", "amount",
        "next_microtimestamp", "pair_id")
    val l3 = OrderBookFixture.level3(spark)
      .unionByName(odd, allowMissingColumns = true)
    // the window shape the kernel replaced, inlined verbatim
    def reference(tsMicros: Long, maxLevels: Option[Int],
        bpsRange: Option[Double], minBid: Option[Double],
        maxAsk: Option[Double]): DataFrame = {
      val snap = l3
        .filter(col("microtimestamp") <= tsMicros &&
          col("next_microtimestamp") > tsMicros)
      val sideOrd = when(col("side") === "b", -col("price")).otherwise(col("price"))
      val wCum = Window.partitionBy("pair_id", "side")
        .orderBy(sideOrd, col("microtimestamp"), col("order_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val wLvl = Window.partitionBy("pair_id", "side").orderBy(sideOrd)
      val wBest = Window.partitionBy("pair_id", "side")
      val best = when(col("side") === "b", max(col("price")).over(wBest))
        .otherwise(min(col("price")).over(wBest))
      val out = snap
        .withColumn("liquidity", sum("amount").over(wCum))
        .withColumn("lvl", dense_rank().over(wLvl))
        .withColumn("bps",
          abs(col("price") - best) / best * 10000.0)
      val f1 = maxLevels.fold(out)(n => out.filter(col("lvl") <= n))
      val f2 = bpsRange.fold(f1)(r => f1.filter(col("bps") <= r))
      val f3 = minBid.fold(f2)(p => f2.filter(col("side") =!= "b" ||
        col("price") >= p))
      maxAsk.fold(f3)(p => f3.filter(col("side") =!= "s" ||
        col("price") <= p))
    }
    // (maxLevels, bpsRange, minBid, maxAsk), one filtered case per instant
    val filters = Seq(
      (Some(3), None, None, None), (None, Some(30.0), None, None),
      (None, None, Some(98.5), None), (None, None, None, Some(102.5)),
      (Some(4), Some(60.0), Some(98.0), Some(103.0)))
    val instants = OrderBookFixture.instants(9)
    var oneSided = 0
    var ties = 0
    instants.zipWithIndex.foreach { case (t, k) =>
      val got = graft.market.MarketOps.orderBookQuery(l3, t)
      if (k == 0) assert(got.count() == 0, "no order is live before the log")
      val sides = got.select("pair_id", "side").distinct().collect()
        .map(r => (r.getInt(0), r.getString(1))).toSet
      if (sides.exists(_._1 == 3)) {
        assert(!sides.contains((3, "s")))
        oneSided += 1
      }
      // orders sharing a price and a microtimestamp: order_id decides
      if (got.groupBy("pair_id", "side", "price", "microtimestamp").count()
          .filter(col("count") > 1).count() > 0) ties += 1
      assertSameRows(reference(t, None, None, None, None), got)
      val (n, r, b, a) = filters(k % filters.size)
      assertSameRows(reference(t, n, r, b, a),
        graft.market.MarketOps.orderBookQuery(l3, t, n, r, b, a))
    }
    assert(oneSided > 0, "no instant with pair 3's one-sided book")
    assert(ties > 0, "no instant with equal price and microtimestamp")
  }

  private val t0 = 1569546956000L // ms

  // Bitfinex wire frames: a multi-order snapshot episode with
  // sub-precision noise; an episode of equal episode timestamps with a
  // partial fill, a mid-order price change and a delete of 101 at price
  // 0; 101 reappearing (twice) under the same id; ask 104 whose first
  // amount is negative and whose sign flips later; noise that rounds
  // away and noise that moves the price; order 105 with a null price
  // mid-order (a chain restarts after it); order id 101 on a second
  // pair.
  private lazy val bitfinexRaw = {
    import spark.implicits._
    def upd(lts: Long, oid: Long, price: String, amount: String, rtsMs: Long) =
      (1, 17082, lts, s"""[17082, [$oid, $price, $amount], $rtsMs]""")
    Seq(
      (1, 17082, 1000L, s"""[17082, [[101, 7989.004999, 1.000000004], """ +
        s"""[102, 7990.2349999, -2.49999999949], [103, 7991, -0.5]], $t0]"""),
      (1, 17082, 1500L, s"""[17082, "hb", ${t0 + 100}]"""),
      upd(2000L, 101, "7989", "0.6", t0 + 1000),
      upd(2100L, 102, "7991.5", "-2.5", t0 + 1000),
      upd(2200L, 102, "7991.5", "-1.0", t0 + 1000),
      upd(2300L, 101, "0", "0.6", t0 + 1000),
      upd(3000L, 101, "7988", "2", t0 + 2000),
      upd(3100L, 104, "7995", "-1", t0 + 2000),
      upd(3200L, 104, "7995", "0.5", t0 + 2000),
      upd(3250L, 105, "7996", "-1", t0 + 2000),
      upd(3260L, 105, "null", "-1", t0 + 2000),
      upd(3270L, 105, "7996", "-0.5", t0 + 2000),
      upd(3300L, 103, "0", "-0.5", t0 + 2500),
      upd(4000L, 101, "0", "2", t0 + 3000),
      upd(5000L, 101, "7987", "1", t0 + 4000),
      upd(5100L, 101, "7987.001", "0.999999999", t0 + 4500),
      upd(5200L, 101, "7987.006", "0.5", t0 + 5000),
      (3, 17083, 1500L, s"""[17083, [101, 200.5, -3], ${t0 + 500}]"""),
      (3, 17083, 2500L, s"""[17083, [101, 200.5, -1], ${t0 + 1500}]"""))
      .toDF("pair_id", "channel_id", "local_timestamp", "message")
  }

  test("level3FromRaw through the one kernel equals its three-window shape") {
    val raw = graft.sources.BitfinexFeed.rawBookEvents(bitfinexRaw)
      .localCheckpoint(false)
    // the three-window builder the kernel replaced, inlined verbatim
    val wOrd0 = Window.partitionBy("pair_id", "order_id")
      .orderBy("episode_timestamp", "local_timestamp")
    val base = raw
      .withColumn("price",
        graft.market.Dimensions.roundPrice(col("pair_id"), col("price")))
      .withColumn("amount",
        graft.market.Dimensions.roundAmount(col("pair_id"), col("amount")))
      .withColumn("del_flag", when(col("price") === 0.0, 1).otherwise(0))
      .withColumn("incarnation",
        coalesce(sum("del_flag").over(
          wOrd0.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val wOrd = Window.partitionBy("pair_id", "order_id", "incarnation")
      .orderBy("episode_timestamp", "local_timestamp")
    val evt = base
      .withColumn("event_no", row_number().over(wOrd))
      .withColumn("side",
        when(first(col("amount")).over(wOrd) > 0, "b").otherwise("s"))
      .withColumn("abs_amount", abs(col("amount")))
      .withColumn("prev_amount", lag("abs_amount", 1).over(wOrd))
      .withColumn("lead_ts", lead("episode_timestamp", 1).over(wOrd))
      .withColumn("prev_price", lag("price", 1).over(wOrd))
      .withColumn("price_chg",
        when(col("prev_price").isNull || col("price") =!= col("prev_price"), 1)
          .otherwise(0))
      .withColumn("price_group",
        sum("price_chg").over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
    val wChain = Window.partitionBy("pair_id", "order_id", "incarnation",
      "price_group")
    val reference = evt.select(
      col("episode_timestamp").as("microtimestamp"),
      (col("order_id") * 1000 + col("incarnation")).as("order_id"),
      col("event_no"),
      col("side"),
      col("price"),
      col("abs_amount").as("amount"),
      when(col("prev_amount") > col("abs_amount"),
        col("prev_amount") - col("abs_amount")).as("fill"),
      when(col("del_flag") === 1, col("episode_timestamp"))
        .otherwise(coalesce(col("lead_ts"),
          lit(graft.market.Level3Source.AliveMicros)))
        .as("next_microtimestamp"),
      (col("del_flag") === 1).as("is_deleted"),
      min("episode_timestamp").over(wChain).as("price_microtimestamp"),
      min("event_no").over(wChain).as("price_event_no"),
      col("pair_id"),
      lit(1).as("exchange_id"),
      col("local_timestamp").as("event_id"))
    val got = graft.sources.BitfinexFeed.level3FromRaw(raw)
    assertSameRows(reference, got)
    // the crafted cases are present: three incarnations of 101 on pair
    // 1, ask 104 kept its first side, 101 on pair 3 is its own order
    assert(got.filter(col("pair_id") === 1 && col("order_id") === 101002L)
      .count() == 3)
    assert(got.filter(col("order_id") === 104000L)
      .select("side").distinct().collect().map(_.getString(0)).toSeq ==
      Seq("s"))
    assert(got.filter(col("pair_id") === 3 && col("order_id") === 101000L)
      .agg(max("event_no")).head().getInt(0) == 2)
    assert(got.filter(col("order_id") === 105000L).orderBy("event_no")
      .select("price_event_no").collect().map(_.getInt(0)).toSeq ==
      Seq(1, 1, 3))
  }

  test("level3FromLiveOrders through the one kernel equals its window shape") {
    import spark.implicits._
    def of(pair: Int, lts: Long, ev: String, ts: Long, amt: String,
        price: String, id: Long, ot: Int) =
      (pair, lts, s"""{"event": "$ev", "channel": "live_orders_btcusd", """ +
        s""""data": {"microtimestamp": "$ts", "datetime": "${ts / 1000000}", """ +
        s""""amount_str": "$amt", "price_str": "$price", "id": $id, """ +
        s""""order_type": $ot}}""")
    // order 10: created, partly filled, changed in price, deleted; 11
    // rests with sub-precision noise; 10 on a second pair; equal
    // microtimestamps across orders
    val orders = graft.sources.BitstampFeed.liveOrders(Seq(
        of(1, 1L, "order_created", 1000000L, "2.0", "7989", 10L, 0),
        of(1, 2L, "order_changed", 2000000L, "1.0", "7989", 10L, 0),
        of(1, 3L, "order_created", 2000000L, "1.000000004", "7995.004", 11L, 1),
        of(1, 4L, "order_changed", 2500000L, "1.0", "7990", 10L, 0),
        of(1, 5L, "order_changed", 2600000L, "0.4", "7995.0049", 11L, 1),
        of(1, 6L, "order_deleted", 3000000L, "0.5", "7990", 10L, 0),
        of(2, 7L, "order_created", 1500000L, "3.0", "101.5", 10L, 1),
        of(2, 8L, "order_changed", 2500000L, "2.0", "101.5", 10L, 1))
      .toDF("pair_id", "local_timestamp", "message"))
      .localCheckpoint(false)
    // the window builder the kernel replaced, inlined verbatim
    val wOrd = Window.partitionBy("pair_id", "order_id")
      .orderBy("microtimestamp", "local_timestamp")
    val evt = orders
      .withColumn("price",
        graft.market.Dimensions.roundPrice(col("pair_id"), col("price")))
      .withColumn("amount",
        graft.market.Dimensions.roundAmount(col("pair_id"), col("amount")))
      .withColumn("del_flag",
        when(col("event") === "order_deleted", 1).otherwise(0))
      .withColumn("event_no", row_number().over(wOrd))
      .withColumn("prev_amount", lag("amount", 1).over(wOrd))
      .withColumn("lead_ts", lead("microtimestamp", 1).over(wOrd))
      .withColumn("prev_price", lag("price", 1).over(wOrd))
      .withColumn("price_chg",
        when(col("prev_price").isNull || col("price") =!= col("prev_price"), 1)
          .otherwise(0))
      .withColumn("price_group",
        sum("price_chg").over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
    val wChain = Window.partitionBy("pair_id", "order_id", "price_group")
    val reference = evt.select(
      col("microtimestamp"),
      col("order_id"),
      col("event_no"),
      col("side"),
      col("price"),
      col("amount"),
      when(col("prev_amount") > col("amount"),
        col("prev_amount") - col("amount")).as("fill"),
      when(col("del_flag") === 1, col("microtimestamp"))
        .otherwise(coalesce(col("lead_ts"),
          lit(graft.market.Level3Source.AliveMicros)))
        .as("next_microtimestamp"),
      (col("del_flag") === 1).as("is_deleted"),
      min("microtimestamp").over(wChain).as("price_microtimestamp"),
      min("event_no").over(wChain).as("price_event_no"),
      col("pair_id"),
      lit(2).as("exchange_id"),
      col("local_timestamp").as("event_id"))
    val got = graft.sources.BitstampFeed.level3FromLiveOrders(orders)
    assertSameRows(reference, got)
    val o10 = got.filter(col("pair_id") === 1 && col("order_id") === 10L)
      .orderBy("event_no").select("price_event_no", "is_deleted")
      .as[(Int, Boolean)].collect().toSeq
    assert(o10 == Seq((1, false), (1, false), (3, false), (3, true)))
  }

  /** (ShuffleExchangeExec count, SortExec count) on the single-child
    * spine below the topmost WindowExec of `plan`: the shuffles and
    * sorts its window passes pay for. */
  private def windowSpine(plan: SparkPlan): (Int, Int) = {
    val top = plan.collectFirst { case w: WindowExec => w }
    assert(top.isDefined, s"no window in\n$plan")
    val spine = Iterator.iterate[SparkPlan](top.get)(_.children.head)
      .takeWhile(_.children.size == 1).toList
    (spine.count(_.isInstanceOf[ShuffleExchangeExec]),
      spine.count(_.isInstanceOf[SortExec]))
  }

  test("every level3 builder pays at most one exchange and one sort") {
    import spark.implicits._
    import graft.market.Level3Source
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // continueBuild's rows are checkpointed inside the builder: the
    // plan under its one localCheckpoint (the one whose output carries
    // the correction flag) comes from the action listener
    val checkpointed = new java.util.concurrent.LinkedBlockingQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
        if (funcName == "localCheckpoint" &&
            qe.executedPlan.output.exists(_.name == "corrects"))
          checkpointed.put(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    try {
      val events = Tables.load(spark, "/root/testdata/sf0.001", "events")
      val shapes = Seq(
        "level3" -> Level3Source.level3(events).queryExecution.executedPlan,
        "level3FromRaw" -> graft.sources.BitfinexFeed.level3FromRaw(
          graft.sources.BitfinexFeed.rawBookEvents(bitfinexRaw)
            .localCheckpoint(true)).queryExecution.executedPlan,
        "level3FromLiveOrders" -> graft.sources.BitstampFeed
          .level3FromLiveOrders(graft.sources.BitstampFeed.liveOrders(Seq(
            (1, 1L, """{"event": "order_created", "channel": "live_orders_btcusd", """ +
              """"data": {"microtimestamp": "1000000", "datetime": "1", """ +
              """"amount_str": "1.0", "price_str": "7989", "id": 10, """ +
              """"order_type": 0}}"""))
            .toDF("pair_id", "local_timestamp", "message")).localCheckpoint(true))
          .queryExecution.executedPlan)
      val cut = Oracles.SnapshotMicros
      val state = Level3Source.openState(Level3Source.level3(
          events.filter(tsMicros(col("ts")) <= cut))
        .join(events.select(col("event_id").as("u_eid"), col("user_id")),
          col("event_id") === col("u_eid"))
        .drop("u_eid")).localCheckpoint(true)
      spark.listenerManager.register(listener)
      Level3Source.continueBuild(events.filter(tsMicros(col("ts")) > cut), state)
      val continued = checkpointed.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      assert(continued != null, "continueBuild ran no localCheckpoint")
      (shapes :+ ("continueBuild" -> continued)).foreach { case (name, plan) =>
        val (exchanges, sorts) = windowSpine(plan)
        assert(exchanges <= 1 && sorts == 1,
          s"$name: $exchanges exchanges, $sorts sorts under its windows\n$plan")
      }
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
  }
}
