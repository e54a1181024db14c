package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{GraftExtensions, LongArrayDot, StringPolyHash}

/** The custom expression must be reachable from plain SQL. NOTE:
  * `.withExtensions` only applies when a session is first created, and
  * the test JVM shares one session across suites — so the SQL path is
  * exercised through runtime registration of the same builder the
  * extensions class injects, and the extensions wiring itself is
  * checked against a fresh SparkSessionExtensions instance. */
class ExtensionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-ext")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("long_array_dot is callable from SQL once registered") {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "long_array_dot", exprs => LongArrayDot(exprs(0), exprs(1)),
      "built-in")
    val r = spark.sql(
      "SELECT long_array_dot(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d")
      .collect()(0).getLong(0)
    assert(r == 32L)
  }

  test("string_poly_hash == interpreted HOF formulation") {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "string_poly_hash", exprs => StringPolyHash(exprs(0)), "built-in")
    val r = spark.sql(
      "SELECT string_poly_hash('hello world 42') AS h, " +
        "aggregate(split('hello world 42', ''), 7L, " +
        "(acc, x) -> (acc * 31 + ascii(x)) % 1000000007) AS h2")
      .collect()(0)
    assert(r.getLong(0) == r.getLong(1))
    // empty string hashes to the seed
    val e = spark.sql("SELECT string_poly_hash('') AS h").collect()(0).getLong(0)
    assert(e == 7L)
  }

  test("quantize_int8 == interpreted HOF formulation") {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "quantize_int8", exprs => graft.functions.QuantizeInt8(exprs(0)),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "long_array_max_abs",
      exprs => graft.functions.LongArrayMaxAbs(exprs(0)), "built-in")
    val r = spark.sql(
      """SELECT q, quantize_int8(q) AS fast, long_array_max_abs(q) AS m_fast,
        |  element_at(transform(array(array_max(transform(q, x -> abs(x)))),
        |    m -> transform(q, x -> CASE WHEN m = 0 THEN CAST(0 AS BIGINT)
        |      WHEN x < 0 THEN -((-x * 254 + m) div (2 * m))
        |      ELSE (x * 254 + m) div (2 * m) END)), 1) AS slow,
        |  array_max(transform(q, x -> abs(x))) AS m_slow
        |FROM VALUES (array(1000L, -250L, 3L, 0L)),
        |            (array(0L, 0L)),
        |            (array(-5L)),
        |            (array(127L, -127L, 64L, -64L, 1L, -1L)) AS t(q)""".stripMargin)
      .collect()
    r.foreach { row =>
      assert(row.getSeq[Long](1) == row.getSeq[Long](3), s"q=${row.getSeq[Long](0)}")
      assert(row.getLong(2) == row.getLong(4))
    }
    // spot-check the rounding: 1000 -> 127, -250 -> -32 (round .75 up), 3 -> 0
    val first = r(0).getSeq[Long](1)
    assert(first == Seq(127L, -32L, 0L, 0L))
  }

  test("float_array_milli == ROUND HOF formulation on float arrays") {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "float_array_milli",
      exprs => graft.functions.FloatArrayMilli(exprs(0)), "built-in")
    val r = spark.sql(
      """SELECT float_array_milli(q) AS fast,
        |  transform(q, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT))
        |    AS slow
        |FROM VALUES (array(CAST(0.1234 AS FLOAT), CAST(-0.98765 AS FLOAT),
        |                   CAST(0.0005 AS FLOAT), CAST(-0.0005 AS FLOAT),
        |                   CAST(0 AS FLOAT), CAST(1.9999 AS FLOAT))) t(q)
        |""".stripMargin).collect()(0)
    assert(r.getSeq[Long](0) == r.getSeq[Long](1))
  }

  test("band-join rule rewrites theta band joins to bucketed equi joins") {
    import spark.implicits._
    val a = (0L until 200L).map(i => (i, i * 1000L)).toDF("ida", "tsa")
    val b = (0L until 200L).map(i => (i, i * 1337L % 200000L))
      .toDF("idb", "tsb")
    import org.apache.spark.sql.functions.{abs, col, lit}
    val band = abs(col("tsa") - col("tsb")) <= lit(5000L)
    val joined = a.join(b, band)
    val baseline = joined.orderBy("ida", "idb").collect().map(_.toSeq).toList
    val basePlan = joined.queryExecution.optimizedPlan.toString
    assert(!basePlan.contains("__band_probe"))
    spark.experimental.extraOptimizations = Seq(graft.plans.BandJoinRule)
    try {
      val rewritten = a.join(b, band)
      val plan = rewritten.queryExecution.optimizedPlan.toString
      assert(plan.contains("__band_probe") && plan.contains("__band_bucket"),
        s"rule did not fire:\n$plan")
      val rows = rewritten.orderBy("ida", "idb").collect().map(_.toSeq).toList
      assert(rows.nonEmpty && rows == baseline)
    } finally {
      spark.experimental.extraOptimizations = Nil
    }
  }

  test("AsOfJoin operator expands to the sliced carry plan") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr, last}
    import org.apache.spark.sql.expressions.Window
    // trades to enrich (left) + quotes to carry (right), two keys,
    // quote gaps and ties included
    val trades = (1 to 300).map(i =>
      (i % 3, i * 1000L + (i % 7), s"trade_$i")).toDF("k", "t_ts", "tag")
    val quotes = (1 to 80).map(i =>
      (i % 3, i * 3700L, i * 1.5)).toDF("k", "q_ts", "px")
    spark.experimental.extraOptimizations = Seq(graft.plans.AsOfJoinExpansion)
    try {
      val got = graft.plans.AsOfJoinOps.asofJoin(trades, quotes,
          keys = Seq("k"), leftTs = "t_ts", rightTs = "q_ts",
          carry = Seq("px"))
        .orderBy("k", "t_ts").collect().map(_.toSeq).toList
      // monolithic as-of reference: union + one window per key
      val u = quotes.select(col("k"), col("q_ts").as("ts"),
          org.apache.spark.sql.functions.lit(0).as("kind"), col("px"),
          org.apache.spark.sql.functions.lit(null).cast("long").as("t_ts"),
          org.apache.spark.sql.functions.lit(null).cast("string").as("tag"))
        .unionByName(trades.select(col("k"), col("t_ts").as("ts"),
          org.apache.spark.sql.functions.lit(1).as("kind"),
          org.apache.spark.sql.functions.lit(null).cast("double").as("px"),
          col("t_ts"), col("tag")))
      val w = Window.partitionBy("k").orderBy("ts", "kind")
        .rowsBetween(Window.unboundedPreceding, 0)
      val want = u.withColumn("px_asof", last("px", ignoreNulls = true).over(w))
        .filter(col("kind") === 1)
        .select("k", "t_ts", "tag", "px_asof")
        .orderBy("k", "t_ts").collect().map(_.toSeq).toList
      assert(got.nonEmpty && got == want)
      // misuse is rejected at the API with a column-level message
      intercept[IllegalArgumentException] {
        graft.plans.AsOfJoinOps.asofJoin(trades, quotes,
          keys = Seq("nope"), leftTs = "t_ts", rightTs = "q_ts",
          carry = Seq("px"))
      }
      intercept[IllegalArgumentException] {
        graft.plans.AsOfJoinOps.asofJoin(trades, quotes,
          keys = Seq("k"), leftTs = "t_ts", rightTs = "q_ts",
          carry = Seq("missing_col"))
      }
    } finally {
      spark.experimental.extraOptimizations = Nil
    }
  }

  test("GraftExtensions injects without error") {
    // the injection target is inert here (no session is built from it),
    // but a broken identifier/builder would throw at apply time
    new GraftExtensions().apply(new SparkSessionExtensions)
  }

  test("depth/spread/events are drivable from SQL text through GraftExtensions") {
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val l3 = graft.market.Level3Source.level3(
        Tables.load(s2, "/root/testdata/sf0.001", "events"))
        .localCheckpoint()
      l3.createOrReplaceTempView("l3_tvf")
      val api = new GraftApi(s2, l3)
      val b = l3.agg(org.apache.spark.sql.functions.min("microtimestamp"),
        org.apache.spark.sql.functions.max("microtimestamp")).head()
      val (s0, e0) = (b.getLong(0), math.min(b.getLong(1), b.getLong(0) + 3600L * 1000000L))

      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq).toList.sortBy(_.mkString("#"))

      val sqlSpread = s2.sql("SELECT * FROM spread('l3_tvf')")
      assert(rows(sqlSpread) == rows(api.spread()))

      val sqlDepth = s2.sql(s"SELECT * FROM depth('l3_tvf', $s0, $e0)")
      assert(rows(sqlDepth) == rows(api.depth(s0, e0)))

      val sqlEvents = s2.sql(s"SELECT * FROM events('l3_tvf', $s0, $e0)")
      assert(rows(sqlEvents) == rows(api.events(s0, e0)))
      assert(sqlEvents.columns.sameElements(api.events(s0, e0).columns))

      val sqlTrades = s2.sql("SELECT * FROM trades('l3_tvf')")
      assert(rows(sqlTrades) == rows(api.trades()))

      // optional parameters reach the resampled / tiered variants
      val sqlDepthP2 = s2.sql(
        s"SELECT * FROM depth('l3_tvf', $s0, $e0, 'p2')")
      assert(rows(sqlDepthP2) == rows(api.depth(s0, e0, "p2")))
      assert(rows(sqlDepthP2) != rows(api.depth(s0, e0)))
      val freq = 60L * 1000000L
      val sqlSpreadF = s2.sql(s"SELECT * FROM spread('l3_tvf', $freq)")
      assert(rows(sqlSpreadF) == rows(api.spreadResampled(freq)))
      val sqlEventsF = s2.sql(
        s"SELECT * FROM events('l3_tvf', $s0, $e0, $freq)")
      assert(rows(sqlEventsF) ==
        rows(api.events(s0, e0, frequencyMicros = Some(freq))))
      assert(rows(sqlEventsF) != rows(api.events(s0, e0)))

      val sqlBook = s2.sql(s"SELECT * FROM order_book('l3_tvf', $e0)")
      assert(rows(sqlBook) == rows(api.orderBook(e0)))

      // literal-argument validation reaches the SQL surface
      intercept[Exception] {
        s2.sql("SELECT * FROM depth('l3_tvf', 'not_a_ts', 5)").collect()
      }

      // grid entry points: queues / depth_summary SQL ≡ GridOps
      val gFreq = 6L * 3600L * 1000000L
      val instants = graft.plans.GraftTableFunctions
        .gridInstants(s0, b.getLong(1), gFreq)
      assert(instants.nonEmpty)
      val sqlQueues = s2.sql(
        s"SELECT * FROM queues('l3_tvf', $s0, ${b.getLong(1)}, $gFreq, 5.0, 1, 10)")
      assert(rows(sqlQueues) ==
        rows(graft.market.GridOps.queues(l3, instants, 5.0, 1, 10)))
      assert(rows(sqlQueues).nonEmpty)
      val sqlQueuesLog = s2.sql(
        s"SELECT * FROM queues('l3_tvf', $s0, ${b.getLong(1)}, $gFreq, 0.05, 1, 10, 'LOGRELATIVE')")
      assert(rows(sqlQueuesLog) ==
        rows(graft.market.GridOps.queuesLogRelative(l3, instants, 0.05, 1, 10)))
      assert(rows(sqlQueuesLog) != rows(sqlQueues))
      val sqlDs = s2.sql(
        s"SELECT * FROM depth_summary('l3_tvf', $s0, ${b.getLong(1)}, $gFreq)")
      assert(rows(sqlDs) ==
        rows(graft.market.GridOps.depthSummary(l3, instants)))
      assert(rows(sqlDs).nonEmpty)
      val sqlDs50 = s2.sql(
        s"SELECT * FROM depth_summary('l3_tvf', $s0, ${b.getLong(1)}, $gFreq, 50, 300)")
      assert(rows(sqlDs50) ==
        rows(graft.market.GridOps.depthSummary(l3, instants, 50, 300)))
      assert(rows(sqlDs50) != rows(sqlDs))

      // wide queues: the SRF's own (ts, bid.price, ask.price, b[], a[])
      val sqlQw = s2.sql(
        s"SELECT * FROM queues_wide('l3_tvf', $s0, ${b.getLong(1)}, $gFreq, 5.0, 10)")
      assert(rows(sqlQw) == rows(api.queuesWide(instants, 5.0, 10)))
      assert(rows(sqlQw).nonEmpty)

      // per-pair reads: an outer WHERE is result-correct (replay is
      // per-pair, so post-filtering loses nothing) but cannot push
      // through the typed replay kernel; the PRUNED-COST pattern is a
      // filtered view of the level3 table — the filter then sits below
      // the whole expansion, on the scan side. Both proven equal here.
      val onePair = s2.sql(
        s"SELECT * FROM spread('l3_tvf') WHERE pair_id = 1")
      assert(rows(onePair) ==
        rows(api.spread().filter(
          org.apache.spark.sql.functions.col("pair_id") === 1)))
      assert(rows(onePair).nonEmpty)
      l3.filter(org.apache.spark.sql.functions.col("pair_id") === 1)
        .createOrReplaceTempView("l3_p1")
      assert(rows(s2.sql("SELECT * FROM spread('l3_p1')")) ==
        rows(onePair))

      // the sequential / analytics entry points: SQL ≡ the Scala API
      val sqlDr = s2.sql(
        s"SELECT * FROM depth_resample('l3_tvf', $s0, ${b.getLong(1)}, $gFreq, 5.0)")
      assert(rows(sqlDr) ==
        rows(graft.market.GridOps.depthResample(l3, instants, 5.0)))
      assert(rows(sqlDr).nonEmpty)
      assert(rows(s2.sql("SELECT * FROM trading_period('l3_tvf', 0)")) ==
        rows(api.tradingPeriod(0L)))
      assert(rows(s2.sql(
          "SELECT * FROM trading_strategy('l3_tvf', 0.001, 0.0)")) ==
        rows(api.tradingStrategy(0.001, 0.0)))
      assert(rows(s2.sql("SELECT * FROM draws('l3_tvf', 10.0)")) ==
        rows(api.epsilonDrawUpDowns(10.0)))
      assert(rows(s2.sql("SELECT * FROM events_intervals('l3_tvf')")) ==
        rows(api.intervals()))
      assert(rows(s2.sql("SELECT * FROM summary('l3_tvf')")) ==
        rows(api.summary()))
      assert(rows(s2.sql("SELECT * FROM export('l3_tvf')")) ==
        rows(api.export()))
      assert(rows(s2.sql("SELECT * FROM summary('l3_tvf')")).nonEmpty)

      // the served plot frames: SQL ≡ the Scala API, incl. parameters
      assert(rows(s2.sql("SELECT * FROM plot_avail('l3_tvf')")) ==
        rows(api.dataAvailabilityGrid()))
      assert(rows(s2.sql("SELECT * FROM plot_avail('l3_tvf')")).nonEmpty)
      assert(rows(s2.sql(
          "SELECT * FROM plot_trellis('l3_tvf', 0.001, 0.0, 0)")) ==
        rows(api.positionTrellis(phi = 0.001, rho = 0.0,
          volumeUnits = 0L)))
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }

  test("pipeline ops are drivable from SQL text through GraftExtensions") {
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val docs = Tables.load(s2, "/root/testdata/sf0.001", "documents")
      docs.createOrReplaceTempView("docs_tvf")
      import graft.pipeline.{Search, TextPipeline}

      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq).toList.sortBy(_.mkString("#"))

      assert(rows(s2.sql("SELECT * FROM bm25('docs_tvf')")) ==
        rows(Search.bm25TopK(docs)))
      // custom k and query text reach the operator
      assert(rows(s2.sql("SELECT * FROM bm25('docs_tvf', 3, 'spark join')")) ==
        rows(Search.bm25TopK(docs, Seq(1L -> "spark join"), k = 3)))
      assert(rows(s2.sql("SELECT * FROM dedup_exact('docs_tvf')")) ==
        rows(TextPipeline.exactDedup(docs)))
      assert(rows(s2.sql("SELECT * FROM dup_ngrams('docs_tvf', 3)")) ==
        rows(TextPipeline.interDocDupNgrams(docs, n = 3)))
      assert(rows(s2.sql("SELECT * FROM quality('docs_tvf')")) ==
        rows(TextPipeline.qualityScore(docs)))
      assert(rows(s2.sql("SELECT * FROM dsir('docs_tvf')")) ==
        rows(TextPipeline.dsirWeights(docs)))
      // target-language pass-through
      assert(rows(s2.sql("SELECT * FROM dsir('docs_tvf', 'de')")) ==
        rows(TextPipeline.dsirWeights(docs, targetLang = "de")))
      assert(rows(s2.sql("SELECT * FROM lm_score('docs_tvf', 'fr')")) ==
        rows(TextPipeline.lmScore(docs, trainLang = "fr")))
      assert(rows(s2.sql("SELECT * FROM nb_lang('docs_tvf')")) ==
        rows(TextPipeline.nbLangClassify(docs)))
      assert(rows(s2.sql("SELECT * FROM substring_dedup('docs_tvf')")) ==
        rows(TextPipeline.substringDedup(docs)))
      // min-run-length pass-through
      assert(rows(s2.sql("SELECT * FROM substring_dedup('docs_tvf', 12)")) ==
        rows(TextPipeline.substringDedup(docs, L = 12)))
      assert(rows(s2.sql("SELECT * FROM source_drift('docs_tvf')")) ==
        rows(TextPipeline.sourceDrift(docs)))
      assert(rows(s2.sql("SELECT * FROM boilerplate('docs_tvf')")) ==
        rows(TextPipeline.boilerplateRemove(docs)))
      // chunk-words and max-df pass-through
      assert(rows(s2.sql("SELECT * FROM boilerplate('docs_tvf', 5, 2)")) ==
        rows(TextPipeline.boilerplateRemove(docs, chunkWords = 5,
          maxDf = 2)))
      assert(rows(s2.sql("SELECT * FROM tfidf_terms('docs_tvf')")) ==
        rows(TextPipeline.tfidfTerms(docs)))
      // top-k pass-through
      assert(rows(s2.sql("SELECT * FROM tfidf_terms('docs_tvf', 5)")) ==
        rows(TextPipeline.tfidfTerms(docs, k = 5)))
      assert(rows(s2.sql("SELECT * FROM decon_bloom('docs_tvf')")) ==
        rows(TextPipeline.decontaminateBloom(docs)))
      assert(rows(s2.sql("SELECT * FROM dedup_audit('docs_tvf')")) ==
        rows(TextPipeline.dedupAudit(docs)))
      // sample-size pass-through
      assert(rows(s2.sql("SELECT * FROM dedup_audit('docs_tvf', 7)")) ==
        rows(TextPipeline.dedupAudit(docs, n = 7)))
      assert(rows(s2.sql("SELECT * FROM pack_stats('docs_tvf')")) ==
        rows(graft.pipeline.TrainingData.packStats(docs, s2)))
      // capacity and shard-count pass-through
      assert(rows(s2.sql("SELECT * FROM pack_stats('docs_tvf', 128, 8)")) ==
        rows(graft.pipeline.TrainingData.packStats(docs, s2,
          capacity = 128, nShards = 8)))
      assert(rows(s2.sql("SELECT * FROM cms_heavy('docs_tvf')")) ==
        rows(TextPipeline.cmsHeavyHitters(docs)))
      // depth / width / top-n pass-through
      assert(rows(s2.sql("SELECT * FROM cms_heavy('docs_tvf', 2, 8, 10)")) ==
        rows(TextPipeline.cmsHeavyHitters(docs, depth = 2, width = 8,
          topN = 10)))
      val emb = Tables.load(s2, "/root/testdata/sf0.001", "embeddings")
      emb.createOrReplaceTempView("emb_tvf")
      // round-13 incremental-ANN TVFs: SQL ≡ API under the SAME
      // base-trained centroids (ivfTrainCached shares the memo)
      locally {
        import graft.pipeline.VectorOps
        val annBase = emb.filter(
          org.apache.spark.sql.functions.col("vec_id") % 4 =!= 0)
        val annBatch = emb.filter(
          org.apache.spark.sql.functions.col("vec_id") % 4 === 0)
        val cs = VectorOps.ivfTrainCached(annBase)
        assert(rows(s2.sql("SELECT * FROM incr_ann('emb_tvf')")) ==
          rows(VectorOps.incrAnnAssign(annBatch, cs,
            VectorOps.ivfAssignments(annBase, cs))))
        assert(rows(s2.sql("SELECT * FROM ann_drift('emb_tvf')")) ==
          rows(VectorOps.ivfCellDrift(
            VectorOps.ivfAssignments(annBase, cs),
            VectorOps.ivfAssignments(annBatch, cs))))
        assert(rows(s2.sql("SELECT * FROM sem_decon('emb_tvf')")) ==
          rows(VectorOps.semDecon(emb)))
        // benchMax and tau pass-through
        assert(rows(s2.sql("SELECT * FROM sem_decon('emb_tvf', 5, 0.3)")) ==
          rows(VectorOps.semDecon(emb, benchMax = 5, tau = 0.3)))
        // the TWO-RELATION call node: hybrid('docs','emb') resolves
        // both children and equals the API recompute route
        assert(rows(s2.sql("SELECT * FROM hybrid('docs_tvf', 'emb_tvf')")) ==
          rows(graft.pipeline.Search.hybridSearch(docs, emb,
            trainedCents = Some(VectorOps.ivfTrainCached(emb)))))
      }
      assert(rows(s2.sql("SELECT * FROM rproj('emb_tvf')")) ==
        rows(graft.pipeline.VectorOps.rprojReport(emb)))
      // component-count pass-through
      assert(rows(s2.sql("SELECT * FROM rproj('emb_tvf', 8)")) ==
        rows(graft.pipeline.VectorOps.rprojReport(emb, kComps = 8)))
      assert(rows(s2.sql("SELECT * FROM pmi_bigrams('docs_tvf')")) ==
        rows(TextPipeline.pmiBigrams(docs)))
      // min-count and top-n pass-through
      assert(rows(s2.sql("SELECT * FROM pmi_bigrams('docs_tvf', 1, 5)")) ==
        rows(TextPipeline.pmiBigrams(docs, minCount = 1, topN = 5)))
      assert(rows(s2.sql("SELECT * FROM dedup_recall('docs_tvf')")) ==
        rows(TextPipeline.dedupRecall(docs)))
      // sample-mod and tau pass-through
      assert(rows(s2.sql("SELECT * FROM dedup_recall('docs_tvf', 1, 0.3)")) ==
        rows(TextPipeline.dedupRecall(docs, sampleMod = 1,
          threshold = 0.3)))
      val evt = Tables.load(s2, "/root/testdata/sf0.001", "events")
      evt.createOrReplaceTempView("events_tvf")
      import graft.relational.CoreQueries
      import graft.Tables.tsMicros
      import org.apache.spark.sql.functions.col
      assert(rows(s2.sql("SELECT * FROM funnel('events_tvf')")) ==
        rows(CoreQueries.funnelOf(evt.select(col("user_id"),
          col("event_type"), tsMicros(col("ts")).as("t")))))
      assert(rows(s2.sql("SELECT * FROM retention('events_tvf')")) ==
        rows(CoreQueries.retentionOf(evt.select(col("user_id"),
          tsMicros(col("ts")).as("t")))))
      assert(rows(s2.sql("SELECT * FROM sessions('events_tvf')")) ==
        rows(CoreQueries.sessionizeOf(evt.select(col("user_id"),
          col("event_id"), tsMicros(col("ts")).as("t")))))
      assert(rows(s2.sql("SELECT * FROM anomaly('events_tvf')")) ==
        rows(CoreQueries.eventAnomaliesOf(evt)))
      assert(rows(s2.sql("SELECT * FROM source_cap('docs_tvf')")) ==
        rows(TextPipeline.sourceCap(docs)))
      // cap pass-through
      assert(rows(s2.sql("SELECT * FROM source_cap('docs_tvf', 3)")) ==
        rows(TextPipeline.sourceCap(docs, cap = 3)))
      assert(rows(s2.sql("SELECT * FROM epoch_plan('docs_tvf')")) ==
        rows(graft.pipeline.TrainingData.epochPlan(docs)))
      // budget-num / budget-den / max-epochs pass-through: 3/2 budget
      // under a 3-epoch cap is a different allocation than the 7/4, 2
      // default on the same corpus
      assert(rows(s2.sql("SELECT * FROM epoch_plan('docs_tvf', 3, 2, 3)")) ==
        rows(graft.pipeline.TrainingData.epochPlan(docs,
          budgetNum = 3, budgetDen = 2, maxEpochs = 3)))
      assert(rows(s2.sql("SELECT * FROM epoch_plan('docs_tvf', 3, 2, 3)")) !=
        rows(graft.pipeline.TrainingData.epochPlan(docs)))
      assert(rows(s2.sql("SELECT * FROM pagerank('emb_tvf')")) ==
        rows(graft.pipeline.VectorOps.pageRank(emb)))
      // k and iteration pass-through
      assert(rows(s2.sql("SELECT * FROM pagerank('emb_tvf', 3, 4)")) ==
        rows(graft.pipeline.VectorOps.pageRank(emb, k = 3, iters = 4)))
      assert(rows(s2.sql("SELECT * FROM label_prop('emb_tvf')")) ==
        rows(graft.pipeline.VectorOps.labelPropagate(emb)))
      // k / iters / seed-mod pass-through
      assert(rows(s2.sql("SELECT * FROM label_prop('emb_tvf', 3, 2, 4)")) ==
        rows(graft.pipeline.VectorOps.labelPropagate(emb, k = 3,
          iters = 2, seedMod = 4)))
      assert(rows(s2.sql("SELECT * FROM source_distinct('docs_tvf')")) ==
        rows(TextPipeline.sourceDistinctEstimate(docs)))
      // k pass-through
      assert(rows(s2.sql("SELECT * FROM source_distinct('docs_tvf', 8)")) ==
        rows(TextPipeline.sourceDistinctEstimate(docs, k = 8)))
      assert(rows(s2.sql("SELECT * FROM weighted_sample('docs_tvf')")) ==
        rows(graft.pipeline.TrainingData.weightedSample(docs)))
      // n and salt pass-through
      assert(rows(
        s2.sql("SELECT * FROM weighted_sample('docs_tvf', 9, 'epoch1')")) ==
        rows(graft.pipeline.TrainingData.weightedSample(docs,
          targetN = 9, salt = "epoch1")))
      import graft.pipeline.VectorOps
      assert(rows(s2.sql("SELECT * FROM gram('emb_tvf')")) ==
        rows(VectorOps.gramMatrix(emb)))
      assert(rows(s2.sql("SELECT * FROM pca('emb_tvf')")) ==
        rows(VectorOps.pcaLeading(emb)))
      // iteration pass-through
      assert(rows(s2.sql("SELECT * FROM pca('emb_tvf', 4)")) ==
        rows(VectorOps.pcaLeading(emb, iters = 4)))
      assert(rows(s2.sql("SELECT * FROM pca2('emb_tvf')")) ==
        rows(VectorOps.pcaSecond(emb)))
      assert(rows(s2.sql("SELECT * FROM pca_project('emb_tvf')")) ==
        rows(VectorOps.pcaProject(emb)))
      assert(rows(s2.sql("SELECT * FROM cluster_sample('emb_tvf')")) ==
        rows(VectorOps.clusterSample(emb)))
      // per-cell pass-through
      assert(rows(s2.sql("SELECT * FROM cluster_sample('emb_tvf', 3)")) ==
        rows(VectorOps.clusterSample(emb, perCell = 3)))
      assert(rows(s2.sql("SELECT * FROM quantiles('docs_tvf')")) ==
        rows(TextPipeline.lengthQuantiles(docs)))
      assert(rows(s2.sql("SELECT * FROM knn_graph('emb_tvf')")) ==
        rows(VectorOps.knnGraph(emb)))
      // k pass-through
      assert(rows(s2.sql("SELECT * FROM knn_graph('emb_tvf', 3)")) ==
        rows(VectorOps.knnGraph(emb, k = 3)))
      // n_probe pass-through (and a 2nd probe actually changes edges)
      assert(rows(s2.sql("SELECT * FROM knn_graph('emb_tvf', 3, 2)")) ==
        rows(VectorOps.knnGraph(emb, k = 3, nProbe = 2)))
      assert(rows(s2.sql("SELECT * FROM char_span_dedup('docs_tvf', 16)")) ==
        rows(TextPipeline.charSpanDedup(docs, L = 16)))
      assert(rows(s2.sql("SELECT * FROM knn_clusters('emb_tvf')")) ==
        rows(VectorOps.knnClusters(emb)))
      assert(rows(s2.sql("SELECT * FROM semdedup('emb_tvf')")) ==
        rows(VectorOps.semDedup(emb)))
      // threshold pass-through
      assert(rows(s2.sql("SELECT * FROM semdedup('emb_tvf', 0.9)")) ==
        rows(VectorOps.semDedup(emb, threshold = 0.9)))
      assert(rows(s2.sql("SELECT * FROM triangles('emb_tvf')")) ==
        rows(VectorOps.triangleStats(emb)))
      // k pass-through
      assert(rows(s2.sql("SELECT * FROM triangles('emb_tvf', 3)")) ==
        rows(VectorOps.triangleStats(emb, k = 3)))
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }

  test("every graft table function rejects misuse at analysis with its usage and argument position") {
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    val group = "graft-tvf-misuse"
    s2.sparkContext.setJobGroup(group, group)
    try {
      def failure(q: String): String = intercept[Exception](s2.sql(q)).getMessage
      val fns = graft.plans.GraftTableFunctions.all
      assert(fns.map(_.name).distinct.size == fns.size)
      fns.foreach { f =>
        assert(s2.sessionState.tableFunctionRegistry.functionExists(
          org.apache.spark.sql.catalyst.FunctionIdentifier(f.name)), f.name)
        val noArgs = failure(s"SELECT * FROM ${f.name}()")
        assert(noArgs.stripPrefix("requirement failed: ").startsWith(f.usage),
          s"${f.name}: $noArgs")
        // arguments are checked in call order, so an integer in every
        // position fails on the first (the table name)
        val ints = Seq.fill(f.arities.min)("1").mkString(", ")
        val intTable = failure(s"SELECT * FROM ${f.name}($ints)")
        assert(intTable.stripPrefix("requirement failed: ")
          .startsWith(s"${f.name} argument 1 must be a string literal"),
          s"${f.name}: $intTable")
      }
      assert(s2.sparkContext.statusTracker.getJobIdsForGroup(group).isEmpty)
    } finally {
      s2.sparkContext.clearJobGroup()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }

  test("asof_join is drivable from SQL text through GraftExtensions") {
    // a fresh session on the shared context, built WITH the extensions
    // (the suite-shared session predates them); restored in finally so
    // later suites see the original session
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      import s2.implicits._
      val l = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 15L, "c"))
        .toDF("pair_id", "ets", "tag")
      val r = Seq((1L, 5L, 1.0), (1L, 20L, 2.0), (2L, 30L, 9.0))
        .toDF("pair_id", "qts", "quote")
      l.createOrReplaceTempView("l_t")
      r.createOrReplaceTempView("r_t")
      val out = s2.sql("SELECT * FROM asof_join('l_t', 'r_t', 'pair_id', " +
          "'ets', 'qts', 'quote')")
        .orderBy("pair_id", "ets").collect()
      // (1,10) <- qts 5; (1,20) <- qts 20 (ties inclusive); (2,15) <- none
      assert(out.map(row => Option(row.getAs[Any]("quote_asof"))).toSeq ==
        Seq(Some(1.0), Some(2.0), None))
      // SQL result == DataFrame-surface result, same lowered operator
      val viaApi = graft.plans.AsOfJoinOps.asofJoin(l, r,
          keys = Seq("pair_id"), leftTs = "ets", rightTs = "qts",
          carry = Seq("quote"))
        .orderBy("pair_id", "ets").collect()
      assert(out.map(_.toSeq).toSeq == viaApi.map(_.toSeq).toSeq)
      // name validation reaches the SQL surface too
      intercept[Exception] {
        s2.sql("SELECT * FROM asof_join('l_t', 'r_t', 'nope', " +
          "'ets', 'qts', 'quote')").collect()
      }
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }
}
