package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.market.{BookEvent, Level3Source, MarketOps}
import graft.streaming.StreamingOps

/** Differential test: the incremental (Structured Streaming) L1 stream
  * must produce exactly the batch kernel's L1 ticks when fed the same
  * events — the streaming twin of the reference's fast/slow redundancy.
  */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-streaming-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("stateless pipeline operators run unchanged on a document stream") {
    import graft.pipeline.TextPipeline
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.load(spark, dir, "documents")
      .select("doc_id", "text")
    // stage as several files so the stream sees multiple micro-batches
    val stage = java.nio.file.Files.createTempDirectory("graft-docs")
      .toString
    docs.repartition(3).write.mode("overwrite").parquet(stage)

    val streamIn = spark.readStream.schema(docs.schema).parquet(stage)
    // per-doc maps need no state: the same DataFrame functions compose
    // on a streaming source — ingestion-time scoring at capture, the
    // shape a 100 TB pipeline uses to avoid a second full pass
    val q = TextPipeline.qualityScore(streamIn)
      .join(TextPipeline.langId(streamIn).select("doc_id", "pred_lang"),
        "doc_id")
      .writeStream.outputMode("append")
      .format("memory").queryName("docs_scored")
      .start()
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("docs_scored")
      .orderBy("doc_id").collect().map(_.toSeq).toList
    val batch = TextPipeline.qualityScore(docs)
      .join(TextPipeline.langId(docs).select("doc_id", "pred_lang"),
        "doc_id")
      .orderBy("doc_id").collect().map(_.toSeq).toList
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming packer equals batch packSequences on ordered arrival") {
    import spark.implicits._
    import graft.pipeline.TrainingData
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    val capacity = 256L

    // deliver docs in the batch packer's per-shard order (global sort
    // by (hash, doc_id): any consecutive split keeps each shard's
    // subsequence sorted), across three micro-batches
    val inputs = TrainingData.packInputs(docs, capacity)
      .select(col("shard"), col("sample_hash"), col("doc_id"), col("toks"))
      .as[StreamingOps.PackIn]
      .collect().sortBy(d => (d.sample_hash, d.doc_id))
    val stream = MemoryStream[StreamingOps.PackIn](spark, 1)
    val q = StreamingOps.packStream(stream.toDS(), capacity, spark)
      .writeStream.outputMode("update")
      .format("memory").queryName("packed_out")
      .start()
    inputs.grouped(math.max(1, inputs.length / 3 + 1)).foreach { chunk =>
      stream.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()

    val streamed = spark.table("packed_out")
      .select("shard", "doc_id", "pos", "toks", "bin_no", "bin_offset")
      .orderBy("shard", "pos").collect().map(_.toSeq).toList
    val batch = TrainingData.packSequences(docs, spark, capacity)
      .select(col("shard").cast("int").as("shard"), col("doc_id"),
        col("pos"), col("toks"), col("bin_no"), col("bin_offset"))
      .orderBy("shard", "pos").collect().map(_.toSeq).toList
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming chunk dedup equals batch chunk dedup (stateful op)") {
    import spark.implicits._
    import graft.pipeline.TextPipeline
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    val stage = java.nio.file.Files.createTempDirectory("graft-chunks")
      .toString
    docs.repartition(4).write.mode("overwrite").parquet(stage)

    val streamIn = spark.readStream.schema(docs.schema).parquet(stage)
    val q = StreamingOps.chunkDedupStream(
        TextPipeline.docChunks(streamIn)
          .select("doc_id", "chunk_hash").as[StreamingOps.ChunkOcc],
        spark)
      .writeStream.outputMode("update")
      .format("memory").queryName("chunk_dedup_out")
      .start()
    q.processAllAvailable()
    q.stop()

    // latest emission per chunk = the one with the highest running
    // occurrence count (strictly increasing across a key's emissions)
    val streamed = spark.table("chunk_dedup_out")
      .groupBy("chunk_hash")
      .agg(max(struct(col("n_occurrences"), col("n_docs"), col("keep_doc")))
        .as("s"))
      .select(col("chunk_hash"), col("s.n_docs").as("n_docs"),
        col("s.n_occurrences").as("n_occurrences"),
        col("s.keep_doc").as("keep_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy("chunk_hash").collect().map(_.toSeq).toList
    val batch = TextPipeline.chunkDedup(docs)
      .orderBy("chunk_hash").collect().map(_.toSeq).toList
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("l2Stream recovers from a checkpoint kill: depth changes intact") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val l3 = Level3Source.level3(Tables.load(spark, dir, "events"))
      .localCheckpoint(false)
    val all = l3.orderBy("microtimestamp", "order_id", "event_no")
      .select(
        col("pair_id").as("pairId"), col("microtimestamp").as("ts"),
        col("order_id").as("orderId"), col("side"), col("price"),
        col("amount"), col("is_deleted").as("isDeleted"))
      .as[BookEvent].collect()
    var cut = all.length / 2
    while (cut < all.length && all(cut).ts == all(cut - 1).ts) cut += 1

    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-l2-ckpt").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-l2-out").toString
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[BookEvent](spark)
    def start() = StreamingOps.l2Stream(ms.toDS(), spark)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", outDir)
      .start()

    val q1 = start()
    ms.addData(all.slice(0, cut).toIndexedSeq)
    q1.processAllAvailable()
    ms.addData(all.slice(cut, all.length).toIndexedSeq)
    q1.stop()
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()

    // the recovered book must be the first half's book: a lost book
    // would mis-derive every level total the tail touches
    val key = (r: Seq[Any]) => (r(0).asInstanceOf[Int].toLong,
      r(1).asInstanceOf[Long], r(2).toString,
      r(3).asInstanceOf[Double])
    val streamed = spark.read.parquet(outDir)
      .select("pair_id", "ts", "side", "price", "volume")
      .collect().map(_.toSeq).toList.sortBy(key)
    val batch = MarketOps.depthChanges(l3, spark)
      .select("pair_id", "ts", "side", "price", "volume")
      .collect().map(_.toSeq).toList.sortBy(key)
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming ANN probe equals batch kmeans-IVF across a kill-point matrix") {
    import spark.implicits._
    import graft.pipeline.VectorOps
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.load(spark, dir, "embeddings")
    val cents = VectorOps.ivfTrain(emb)
    val base = java.nio.file.Files
      .createTempDirectory("graft-ann-probe").toString
    val idx = base + "/index"
    VectorOps.ivfAssignments(emb, cents)
      .write.mode("overwrite").parquet(idx)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding"))
      .as[StreamingOps.QueryVec].collect().sortBy(_.vec_id)
    val key = (r: Seq[Any]) => (r(0).asInstanceOf[Long],
      r(1).asInstanceOf[Long])
    val batch = VectorOps.annIvfKmeans(emb, trainedCents = Some(cents))
      .select("query_id", "rnk", "vec_id", "cos")
      .collect().map(_.toSeq).toList.sortBy(key)

    // kill at several distinct barriers: after 1 query committed
    // (early — most probe work still ahead), at the midpoint, and
    // with only the last query pending (late — recovery must not
    // re-emit the committed bulk)
    for (cut <- Seq(1, queries.length / 2, queries.length - 1)) {
      val tmp = base + s"/cut$cut"
      val ckpt = tmp + "/ckpt"
      val out = tmp + "/out"
      val ms = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[StreamingOps.QueryVec](spark)
      def start() = StreamingOps.annProbeStream(ms.toDS(), spark,
          spark.read.parquet(idx), cents)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", out)
        .start()

      val q1 = start()
      ms.addData(queries.slice(0, cut).toIndexedSeq)
      q1.processAllAvailable()
      ms.addData(queries.slice(cut, queries.length).toIndexedSeq)
      q1.stop()                    // killed with the tail un-consumed
      val q2 = start()
      q2.processAllAvailable()
      q2.stop()

      val streamed = spark.read.parquet(out)
        .select("query_id", "rnk", "vec_id", "cos")
        .collect().map(_.toSeq).toList.sortBy(key)
      assert(streamed.nonEmpty && streamed == batch,
        s"ann probe kill at cut=$cut diverged from batch")
    }
  }

  test("funnelStream resumes the per-user chain across a checkpoint kill") {
    import spark.implicits._
    val M = 1000000L
    // u1 full chain; u2 purchase BEFORE click (stops at click depth 3
    // — its purchase at 15M precedes the click at 30M); u3 signup
    // only; u4 never signs up (depth 0)
    val rows = Seq(
      StreamingOps.FunnelEvIn(1L, "signup", 10 * M),
      StreamingOps.FunnelEvIn(2L, "signup", 10 * M),
      StreamingOps.FunnelEvIn(3L, "signup", 10 * M),
      StreamingOps.FunnelEvIn(4L, "view", 10 * M),
      StreamingOps.FunnelEvIn(2L, "purchase", 15 * M),
      StreamingOps.FunnelEvIn(1L, "view", 20 * M),
      StreamingOps.FunnelEvIn(2L, "view", 20 * M),
      StreamingOps.FunnelEvIn(4L, "click", 25 * M),
      StreamingOps.FunnelEvIn(1L, "click", 30 * M),
      StreamingOps.FunnelEvIn(2L, "click", 30 * M),
      StreamingOps.FunnelEvIn(1L, "purchase", 40 * M)
    ).sortBy(_.t)
    val want = Map(1L -> 4L, 2L -> 3L, 3L -> 1L, 4L -> 0L)

    val tmp = java.nio.file.Files
      .createTempDirectory("graft-funnelstream").toString
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[StreamingOps.FunnelEvIn](spark)
    def start() = StreamingOps.funnelStream(ms.toDS(), spark)
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp + "/ckpt")
      .format("parquet").option("path", tmp + "/out")
      .start()
    // kill between u2's purchase (wasted, chain at view) and its
    // click: a restart that lost t2 would wrongly re-admit the
    // purchase; one that lost t1 would stall the chain
    val cut = rows.indexWhere(e => e.t == 20 * M)
    val q1 = start()
    ms.addData(rows.slice(0, cut).toIndexedSeq)
    q1.processAllAvailable()
    ms.addData(rows.slice(cut, rows.length).toIndexedSeq)
    q1.stop()
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()

    val got = spark.read.parquet(tmp + "/out")
      .groupBy("user_id").agg(org.apache.spark.sql.functions.max("step")
        .as("step"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want, "recovered funnel state diverged from batch")
  }

  test("funnelStream drops a cross-batch late event at the tMax fence") {
    import spark.implicits._
    val M = 1000000L
    // batch 1: u1 signs up (10M) and clicks (50M) — the click cannot
    // advance (no view yet), but it moves the user's fence to 50M.
    // batch 2: a VIEW at 20M arrives late. The naive greedy rule
    // would admit it (20M > t1=10M -> depth 2, a verdict no batch
    // recompute over the same events would produce); the declared
    // contract drops it: depth stays 1. An in-order later view (60M)
    // then advances normally -> final depth 2 via the 60M view.
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-funnel-late").toString
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[StreamingOps.FunnelEvIn](spark)
    val q = StreamingOps.funnelStream(ms.toDS(), spark)
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp + "/ckpt")
      .format("memory").queryName("graft_funnel_late").start()
    ms.addData(Seq(StreamingOps.FunnelEvIn(1L, "signup", 10 * M),
      StreamingOps.FunnelEvIn(1L, "click", 50 * M)))
    q.processAllAvailable()
    ms.addData(Seq(StreamingOps.FunnelEvIn(1L, "view", 20 * M)))
    q.processAllAvailable()
    val midDepth = spark.table("graft_funnel_late")
      .agg(org.apache.spark.sql.functions.max("step")).collect()(0).getLong(0)
    assert(midDepth === 1L,
      "late view crossed the fence and advanced the chain")
    ms.addData(Seq(StreamingOps.FunnelEvIn(1L, "view", 60 * M)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("graft_funnel_late")
      .agg(org.apache.spark.sql.functions.max("step")).collect()(0).getLong(0)
    spark.catalog.dropTempView("graft_funnel_late")
    assert(got === 2L, "in-order view after the fence failed to advance")
  }

  test("semDedupStream verdicts are arrival-order-defined for an out-of-order id") {
    import spark.implicits._
    // same direction, ids REVERSED across batches: v2 arrives first
    // (kept), v1 arrives late. The declared online contract dedupes
    // the late arrival against the kept set at its arrival position:
    // v1 is dropped — where the batch (vec_id-ordered) rule would
    // keep v1 and drop v2. A third, orthogonal late id stays kept.
    val tau = 0.45
    val a = Seq(3L, 0L, 0L, 0L)
    val b = Seq(0L, 3L, 0L, 0L) // cos(a,b)=0 < tau
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-semdedup-late").toString
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[StreamingOps.VecOcc](spark)
    val q = StreamingOps.semDedupStream(ms.toDS(), spark, tau)
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp + "/ckpt")
      .format("memory").queryName("graft_semdedup_late").start()
    ms.addData(Seq(StreamingOps.VecOcc(2L, 0L, a)))
    q.processAllAvailable()
    ms.addData(Seq(StreamingOps.VecOcc(1L, 0L, a),
      StreamingOps.VecOcc(0L, 0L, b)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("graft_semdedup_late")
      .select("vec_id", "kept").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    spark.catalog.dropTempView("graft_semdedup_late")
    assert(got === Map(2L -> true, 1L -> false, 0L -> true),
      "arrival-order dedup verdicts diverged from the declared contract")
  }

  test("sessionsStream merges a session across batches and a checkpoint kill") {
    import spark.implicits._
    val M = 1000000L
    val gap = 30L * 60 * M
    // u1: three events 10 min apart (ONE session even though they
    // arrive in three different micro-batches — the engine must merge
    // session state across batches and across a restart), then a
    // fourth event past the gap (a second session). u2: one event.
    val rows = Seq(
      StreamingOps.EvIn(1L, 10 * M, 0L),
      StreamingOps.EvIn(2L, 11 * M, 0L),
      StreamingOps.EvIn(1L, 10 * M + 600 * M, 0L),
      StreamingOps.EvIn(1L, 10 * M + 1200 * M, 0L),
      StreamingOps.EvIn(1L, 10 * M + 1200 * M + gap + M, 0L))
    val maxTs = rows.map(_.tsUs).max
    val flush = Seq(2L, 4L).map(h =>
      StreamingOps.EvIn(Long.MinValue, maxTs + h * 3600L * M, 0L))

    val tmp = java.nio.file.Files
      .createTempDirectory("graft-sessions").toString
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[StreamingOps.EvIn](spark)
    def start() = StreamingOps.sessionsStream(ms.toDS())
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp + "/ckpt")
      .format("parquet").option("path", tmp + "/out")
      .start()
    val q1 = start()
    ms.addData(Seq(rows(0), rows(1)))
    q1.processAllAvailable()
    ms.addData(Seq(rows(2)))
    q1.stop() // kill mid-session: the open session lives in state
    val q2 = start()
    q2.processAllAvailable()
    ms.addData(Seq(rows(3), rows(4)))
    q2.processAllAvailable()
    flush.foreach { f => ms.addData(Seq(f)); q2.processAllAvailable() }
    q2.stop()

    val got = spark.read.parquet(tmp + "/out")
      .filter(col("user_id") =!= Long.MinValue)
      .select("user_id", "n_events", "min_t", "max_t").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got === Set(
      (1L, 3L, 10 * M, 10 * M + 1200 * M), // merged across 3 batches + kill
      (1L, 1L, 10 * M + 1200 * M + gap + M, 10 * M + 1200 * M + gap + M),
      (2L, 1L, 11 * M, 11 * M)),
      "session windows diverged from the gaps-and-islands sessions")
  }

  test("sessionsStream keeps an exact-gap event in session, matching batch") {
    import spark.implicits._
    val M = 1000000L
    val gap = 30L * 60 * M
    // the closed-boundary rule: an event EXACTLY gap after its
    // predecessor stays in the session (the batch twin's `> gap`
    // split); one µs past the gap splits. Before the +1µs window
    // shift the stream split the first pair — the parity with q03
    // rested on the corpus never containing an exact-boundary gap
    val t0 = 10 * M
    val rows = Seq(
      StreamingOps.EvIn(1L, t0, 0L),
      StreamingOps.EvIn(1L, t0 + gap, 0L),        // exact gap: SAME session
      StreamingOps.EvIn(1L, t0 + 2 * gap + M, 0L)) // gap + 1µs: splits
    val flush = Seq(2L, 4L).map(h =>
      StreamingOps.EvIn(Long.MinValue, t0 + 3 * gap + h * 3600L * M, 0L))
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-sessions-bnd").toString
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[StreamingOps.EvIn](spark)
    val q = StreamingOps.sessionsStream(ms.toDS())
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp + "/ckpt")
      .format("parquet").option("path", tmp + "/out")
      .start()
    ms.addData(rows)
    q.processAllAvailable()
    flush.foreach { f => ms.addData(Seq(f)); q.processAllAvailable() }
    q.stop()
    val got = spark.read.parquet(tmp + "/out")
      .filter(col("user_id") =!= Long.MinValue)
      .select("user_id", "n_events", "min_t", "max_t").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got === Set(
      (1L, 2L, t0, t0 + gap),
      (1L, 1L, t0 + 2 * gap + M, t0 + 2 * gap + M)))
    // and the batch gaps-and-islands twin sees the identical split:
    // 2 sessions, the exact-gap pair merged (duration = gap)
    val batch = graft.relational.CoreQueries.sessionizeOf(
        rows.map(e => (e.userId, e.tsUs, e.tsUs))
          .toDF("user_id", "event_id", "t"))
      .collect().head
    assert(batch.getAs[Long]("n_sessions") === 2L)
    assert(batch.getAs[Long]("max_session_events") === 2L)
    assert(batch.getAs[Double]("total_duration_sec") === gap / 1e6)
  }

  test("sessionsStream merges two open sessions on a late in-watermark event") {
    import spark.implicits._
    val M = 1000000L
    // gap 1 min < the 2 min watermark delay, so a bridging event can
    // arrive event-time-late yet above the watermark: A at t0 and B at
    // t0+90s open as TWO sessions (90s > gap); C at t0+45s then lands
    // late (after B was processed) but in-watermark, overlaps both,
    // and the engine must MERGE the open sessions into one
    val t0 = 3600 * M
    val a = StreamingOps.EvIn(1L, t0, 0L)
    val b = StreamingOps.EvIn(1L, t0 + 90 * M, 0L)
    val c = StreamingOps.EvIn(1L, t0 + 45 * M, 0L)
    val flush = Seq(1L, 2L).map(h =>
      StreamingOps.EvIn(Long.MinValue, t0 + h * 3600L * M, 0L))
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-sessions-late").toString
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[StreamingOps.EvIn](spark)
    val q = StreamingOps.sessionsStream(ms.toDS(), gapMin = 1)
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp + "/ckpt")
      .format("parquet").option("path", tmp + "/out")
      .start()
    ms.addData(Seq(a)); q.processAllAvailable()
    ms.addData(Seq(b)); q.processAllAvailable()
    // C: event time before B (late) but watermark is only at
    // B − 2 min = t0 − 30s, so C is in-watermark and must be applied
    ms.addData(Seq(c)); q.processAllAvailable()
    flush.foreach { f => ms.addData(Seq(f)); q.processAllAvailable() }
    q.stop()
    val got = spark.read.parquet(tmp + "/out")
      .filter(col("user_id") =!= Long.MinValue)
      .select("user_id", "n_events", "min_t", "max_t").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got === Set((1L, 3L, t0, t0 + 90 * M)),
      "late in-watermark event failed to bridge the two open sessions")
  }

  test("eventRates windowed aggregation survives a checkpoint kill") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val rows = Tables.load(spark, dir, "events")
      .select(col("user_id").as("userId"),
        Tables.tsMicros(col("ts")).as("tsUs"),
        round(col("value") * 1000).cast("long").as("vm"))
      .as[StreamingOps.EvIn].collect().sortBy(e => (e.tsUs, e.userId))
    val want = rows.groupBy(e => (e.tsUs / 3600000000L * 3600000000L,
        e.userId))
      .map { case ((w, u), g) =>
        (w, u, g.length.toLong, g.map(_.vm).sum) }.toSet
    val maxTs = rows.map(_.tsUs).max
    val flush = Seq(2L, 4L).map(h =>
      StreamingOps.EvIn(Long.MinValue, maxTs + h * 3600L * 1000000L, 0L))

    val tmp = java.nio.file.Files
      .createTempDirectory("graft-evrates").toString
    val ckpt = tmp + "/ckpt"
    val out = tmp + "/out"
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[StreamingOps.EvIn](spark)
    def start() = StreamingOps.eventRates(ms.toDS())
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", out)
      .start()
    val cut = rows.length / 2
    val q1 = start()
    ms.addData(rows.slice(0, cut).toIndexedSeq)
    q1.processAllAvailable()
    ms.addData(rows.slice(cut, rows.length).toIndexedSeq)
    q1.stop()                      // killed with the tail un-consumed
    val q2 = start()
    flush.foreach { f => ms.addData(Seq(f)); q2.processAllAvailable() }
    q2.stop()

    val got = spark.read.parquet(out)
      .filter(col("user_id") =!= Long.MinValue)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got === want, "recovered windowed state diverged from batch")
  }

  test("cmsStream grid equals the driver sketch across a kill-point matrix") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val rows = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .as[StreamingOps.DocIn].collect().sortBy(_.doc_id)
    val depth = 3
    val width = 512

    // driver-side grid: same md5-half buckets, exact cell sums
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => "%02x".format(b & 0xff))
        .mkString
    def bucket(r: Int, w: String): Long =
      java.lang.Long.parseLong(md5hex(s"$r#$w").substring(0, 8), 16) % width
    val want = rows.flatMap(d => d.text.split(" ", -1))
      .flatMap(w => (0 until depth).map(r => (r.toLong, bucket(r, w))))
      .groupBy(identity).map { case (k, g) => (k._1, k._2, g.length.toLong) }
      .toSet

    val base = java.nio.file.Files
      .createTempDirectory("graft-cms").toString
    // a restart that lost a counter would undercount; one that
    // replayed a committed batch would overcount — both caught by
    // exact grid equality at every cut
    for (cut <- Seq(rows.length / 8, rows.length / 2, rows.length - 1)) {
      val tmp = base + s"/cut$cut"
      val ckpt = tmp + "/ckpt"
      val out = tmp + "/out"
      val ms = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[StreamingOps.DocIn](spark)
      def start() = StreamingOps.cmsStream(ms.toDS(), spark, depth, width)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", out)
        .start()

      val q1 = start()
      ms.addData(rows.slice(0, cut).toIndexedSeq)
      q1.processAllAvailable()
      ms.addData(rows.slice(cut, rows.length).toIndexedSeq)
      q1.stop()                    // killed with the tail un-consumed
      val q2 = start()
      q2.processAllAvailable()
      q2.stop()

      // totals are monotone: the final grid is max(cell) per key
      val got = spark.read.parquet(out)
        .groupBy("r", "bucket").agg(max("cell").as("cell"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === want, s"cut=$cut diverged from the driver grid")
    }
  }

  test("semDedupStream resumes the greedy scan across a kill-point matrix") {
    import spark.implicits._
    import graft.pipeline.VectorOps
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.load(spark, dir, "embeddings")
    val cents = VectorOps.ivfTrain(emb)
    val rows = VectorOps.assignedWithCos(emb, cents)
      .select(col("vec_id"), col("cent_id"), col("q"))
      .as[StreamingOps.VecOcc].collect().sortBy(_.vec_id)
    val tau = 0.45

    // driver-side greedy model: per cell in vec_id order, drop iff an
    // EARLIER KEPT member sits at cosine >= tau (a restart that lost
    // the kept-state would re-admit duplicates of pre-kill survivors)
    val want = rows.groupBy(_.cent_id).toSeq.flatMap { case (cent, vs) =>
      var kept = List.empty[(Long, Seq[Long], Long)]
      vs.sortBy(_.vec_id).toSeq.map { v =>
        val nq = v.q.iterator.map(x => x * x).sum
        val dup = kept.exists { case (_, uq, unq) =>
          val dot = uq.iterator.zip(v.q.iterator)
            .map { case (a, b) => a * b }.sum
          val cos = dot.toDouble / (math.sqrt(unq.toDouble) *
            math.sqrt(nq.toDouble))
          // Double.compare, NOT IEEE >=: NaN cosine counts as a hit,
          // matching batch semDedup and the DuckDB mirror
          java.lang.Double.compare(cos, tau) >= 0
        }
        if (!dup) kept = kept :+ ((v.vec_id, v.q, nq))
        (v.vec_id, cent, !dup)
      }
    }.toSet

    val base = java.nio.file.Files
      .createTempDirectory("graft-semdedup").toString
    // kill at several distinct barriers: early (one committed batch —
    // vec_ids interleave across cells, so EVERY cut is mid-cell for
    // most cells: each cell's greedy scan resumes from partial kept
    // state), midpoint, and late (one pending arrival)
    for (cut <- Seq(rows.length / 8, rows.length / 2, rows.length - 1)) {
      val tmp = base + s"/cut$cut"
      val ckpt = tmp + "/ckpt"
      val out = tmp + "/out"
      val ms = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[StreamingOps.VecOcc](spark)
      def start() = StreamingOps.semDedupStream(ms.toDS(), spark, tau)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", out)
        .start()

      val q1 = start()
      ms.addData(rows.slice(0, cut).toIndexedSeq)
      q1.processAllAvailable()
      ms.addData(rows.slice(cut, rows.length).toIndexedSeq)
      q1.stop()                    // killed with the tail un-consumed
      val q2 = start()
      q2.processAllAvailable()
      q2.stop()

      val got = spark.read.parquet(out)
        .select("vec_id", "cent_id", "kept")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      assert(got.size === rows.length,
        s"cut=$cut: an arrival was lost or decided twice")
      assert(got === want, s"cut=$cut diverged from the greedy model")
      assert(got.exists(!_._3), "fixture never exercised the drop path")
    }
  }

  test("semDedupStream ingest sub-split bounds per-group state with per-sub greedy semantics") {
    import spark.implicits._
    import graft.pipeline.VectorOps
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.load(spark, dir, "embeddings")
    val cents = VectorOps.ivfTrain(emb)
    val rows = VectorOps.assignedWithCos(emb, cents)
      .select(col("vec_id"), col("cent_id"), col("q"))
      .as[StreamingOps.VecOcc].collect().sortBy(_.vec_id)
    val tau = 0.45
    val S = 2

    def cosOf(a: Seq[Long], b: Seq[Long]): Double = {
      val dot = a.iterator.zip(b.iterator).map { case (x, y) => x * y }.sum
      dot.toDouble /
        (math.sqrt(a.iterator.map(x => x * x).sum.toDouble) *
          math.sqrt(b.iterator.map(x => x * x).sum.toDouble))
    }
    // the guard's declared semantics: the greedy scan runs per
    // (cell, vec_id % split) sub-stream — members of different
    // sub-streams never see each other
    def greedy(vs0: Seq[StreamingOps.VecOcc], split: Long) =
      vs0.groupBy(v => (v.cent_id, v.vec_id % split)).toSeq
        .flatMap { case ((cent, _), vs) =>
          var kept = List.empty[Seq[Long]]
          vs.sortBy(_.vec_id).map { v =>
            val dup = kept.exists(u =>
              java.lang.Double.compare(cosOf(u, v.q), tau) >= 0)
            if (!dup) kept = kept :+ v.q
            (v.vec_id, cent, !dup)
          }
        }.toSet

    // craft the boundary case the natural fixture lacks: a CLONE of a
    // donor vector under an opposite-parity id — the unsplit rule
    // drops it (its donor, or the donor's own dominator, is an earlier
    // kept member at cosine >= tau), while under the split it lands in
    // a sub-stream with no member near it and is KEPT
    val cloneId = rows.map(_.vec_id).max + 1
    val donor = rows.find { r =>
      rows.filter(u => u.cent_id == r.cent_id &&
          u.vec_id % S == cloneId % S)
        .forall(u => java.lang.Double.compare(cosOf(u.q, r.q), tau) < 0)
    }.getOrElse(fail("no donor vector with a clean opposite-parity sub-stream"))
    val rows2 = rows :+
      StreamingOps.VecOcc(cloneId, donor.cent_id, donor.q)
    val want = greedy(rows2, S)
    assert(want !== greedy(rows2, 1L),
      "crafted fixture failed to exercise the sub-split boundary")

    val tmp = java.nio.file.Files
      .createTempDirectory("graft-semdedup-sub").toString
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[StreamingOps.VecOcc](spark)
    val q = StreamingOps.semDedupStream(ms.toDS(), spark, tau, subSplit = S)
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmp + "/ckpt")
      .format("memory").queryName("graft_semdedup_sub").start()
    ms.addData(rows2.take(rows2.length / 2).toIndexedSeq)
    q.processAllAvailable()
    ms.addData(rows2.drop(rows2.length / 2).toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("graft_semdedup_sub")
      .select("vec_id", "cent_id", "kept").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    spark.catalog.dropTempView("graft_semdedup_sub")
    assert(got === want, "sub-split stream diverged from the per-sub greedy model")
    assert(got.exists(v => v._1 == cloneId && v._3),
      "the crafted clone was not kept by the sub-split stream")
  }

  test("curatedSinkStream lands the batch split layout exactly once across a kill") {
    import spark.implicits._
    import graft.pipeline.TextPipeline
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    val rows = docs.as[StreamingOps.DocIn].collect().sortBy(_.doc_id)
    val cut = rows.length / 2

    val tmp = java.nio.file.Files
      .createTempDirectory("graft-curated-sink").toString
    val out = tmp + "/data"
    val ckpt = tmp + "/ckpt"
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[StreamingOps.DocIn](spark)
    def start() = StreamingOps.curatedSinkStream(ms.toDS(), out, ckpt)

    // run 1: first half committed, tail enqueued, KILL mid-stream
    val q1 = start()
    ms.addData(rows.take(cut).toIndexedSeq)
    q1.processAllAvailable()
    ms.addData(rows.drop(cut).toIndexedSeq)
    q1.stop()
    // run 2: the file-sink log must resume, not duplicate
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()

    val batch = TextPipeline.splitAssign(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(_._1).toSeq
    val streamed = spark.read.parquet(out)
      .select("doc_id", "bucket", "split")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(_._1).toSeq
    // exactly-once: same multiset, no dropped or replayed docs
    assert(streamed === batch)
    // the layout is the lake's: a split-pruned read returns that
    // split alone, through the same reader the batch lake uses
    val train = graft.storage.Lake.readSplit(spark, out, "train")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(train === batch.filter(_._3 == "train").map(_._1).toSet)
    assert(train.nonEmpty && train.size < rows.length)
  }

  test("chunkDedupStream recovers its counters from a checkpoint kill") {
    import spark.implicits._
    import graft.pipeline.TextPipeline
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    val occs = TextPipeline.docChunks(docs)
      .select("doc_id", "chunk_hash").as[StreamingOps.ChunkOcc]
      .collect().sortBy(o => (o.doc_id, o.chunk_hash))
    assert(occs.length > 10)
    val cut = occs.length / 2

    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-cd-ckpt").toString
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[StreamingOps.ChunkOcc](spark)
    // update-mode op → foreachBatch sink, stored by batch id: a
    // replayed batch overwrites its own id (the idempotent-write
    // contract that makes foreachBatch exactly-once under recovery)
    val store = scala.collection.concurrent.TrieMap
      .empty[Long, Array[(String, Long, Long, Long)]]
    def start() = StreamingOps.chunkDedupStream(ms.toDS(), spark)
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], id: Long) =>
        store(id) = df.collect().map(r => (r.getString(0), r.getLong(1),
          r.getLong(2), r.getLong(3)))
      }
      .start()

    // run 1: half the occurrences committed, tail enqueued, KILL —
    // the per-chunk counters live only in the state checkpoint now
    val q1 = start()
    ms.addData(occs.take(cut).toIndexedSeq)
    q1.processAllAvailable()
    ms.addData(occs.drop(cut).toIndexedSeq)
    q1.stop()

    // run 2: recovery must resume the counts, not restart them — a
    // lost ChunkState would re-count the tail from zero and every
    // chunk spanning the cut would come out low
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()

    // latest emission per chunk across batches in id order
    val latest = scala.collection.mutable.Map
      .empty[String, (Long, Long, Long)]
    store.toSeq.sortBy(_._1).foreach { case (_, rows) =>
      rows.foreach { case (h, nd, no, kd) => latest(h) = (nd, no, kd) }
    }
    val streamed = latest.toSeq
      .filter(_._2._1 >= 2)
      .map { case (h, (nd, no, kd)) => List[Any](h, nd, no, kd) }
      .toList.sortBy(_.head.toString)
    val batch = TextPipeline.chunkDedup(docs)
      .orderBy("chunk_hash").collect().map(_.toSeq.toList).toList
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("TTL chunk dedup: state expires on event time, accumulates inside it") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val t0 = 1_700_000_000_000_000L // µs
    val min = 60_000_000L           // 1 minute in µs
    val ttlMs = 5 * 60 * 1000L     // 5 minutes of event time
    val ms = MemoryStream[StreamingOps.ChunkOccT](spark)
    val q = StreamingOps.chunkDedupStreamTtl(ms.toDS(), spark, ttlMs)
      .writeStream.outputMode("update")
      .format("memory").queryName("chunk_ttl_out")
      .start()
    // batch 1: chunk A twice (two docs), chunk B once
    ms.addData(Seq(
      StreamingOps.ChunkOccT(1L, "A", t0),
      StreamingOps.ChunkOccT(2L, "A", t0 + min),
      StreamingOps.ChunkOccT(3L, "B", t0 + min)))
    q.processAllAvailable()
    // batch 2: A again INSIDE its ttl → accumulates (n_occ=3)
    ms.addData(Seq(StreamingOps.ChunkOccT(4L, "A", t0 + 4 * min)))
    q.processAllAvailable()
    // batch 3 moves the max event time far ahead; its end-of-batch
    // watermark (max event − 2 min lateness) passes every timeout
    ms.addData(Seq(StreamingOps.ChunkOccT(9L, "C", t0 + 60 * min)))
    q.processAllAvailable()
    // batch 4: timeouts fire only for keys WITHOUT data in the batch —
    // this data-for-D-only batch runs under the advanced watermark and
    // evicts A and B
    ms.addData(Seq(StreamingOps.ChunkOccT(8L, "D", t0 + 62 * min)))
    q.processAllAvailable()
    // batch 5: B re-arrives AFTER eviction → fresh count, not 2
    ms.addData(Seq(StreamingOps.ChunkOccT(5L, "B", t0 + 63 * min)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("chunk_ttl_out")
      .select("chunk_hash", "n_docs", "n_occurrences", "keep_doc")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toList
    // inside the window A behaved exactly like the unbounded op
    assert(rows.contains(("A", 3L, 3L, 1L)))
    // B's post-eviction emission restarts from scratch: new keeper 5,
    // single occurrence — state for the expired key was dropped
    assert(rows.contains(("B", 1L, 1L, 3L)))
    assert(rows.contains(("B", 1L, 1L, 5L)))
    assert(!rows.exists(r => r._1 == "B" && r._3 == 2L))
  }

  test("order classifier idle-TTL evicts a silent pair's book and flags") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val t0 = 1_700_000_000_000_000L
    val min = 60_000_000L
    def evt(pair: Int, ts: Long, oid: Long, no: Int, side: String,
        price: Double, amount: Double, fill: Double, del: Boolean) =
      StreamingOps.OrderEvt(pair, ts, oid, no, side, price, amount, fill, del)

    def run(ttl: Option[Long], name: String): List[(Int, Long, String)] = {
      val ms = MemoryStream[StreamingOps.OrderEvt](spark)
      val q = StreamingOps.orderTypeStream(ms.toDS(), spark, ttl)
        .writeStream.outputMode("append")
        .format("memory").queryName(name)
        .start()
      // pair 1: order 10 rests at 100; order 11 crosses it and fills
      ms.addData(Seq(
        evt(1, t0, 10L, 1, "b", 100.0, 5.0, 0.0, del = false),
        evt(1, t0 + 1, 11L, 1, "s", 90.0, 5.0, 3.0, del = false)))
      q.processAllAvailable()
      // a different pair advances the watermark far past pair 1's TTL
      ms.addData(Seq(
        evt(2, t0 + 60 * min, 20L, 1, "b", 50.0, 1.0, 0.0, del = false)))
      q.processAllAvailable()
      // a second pair-2-only batch runs under the advanced watermark:
      // pair 1 has no data in it, so its idle timeout fires (TTL run)
      ms.addData(Seq(
        evt(2, t0 + 62 * min, 21L, 1, "b", 51.0, 1.0, 0.0, del = false)))
      q.processAllAvailable()
      // pair 1's order 11 finally deletes: with state the book still
      // holds bid 100 → the deletion is judged aggressive → "market";
      // with the pair evicted the book is empty → "flashed-limit"
      ms.addData(Seq(
        evt(1, t0 + 63 * min, 11L, 2, "s", 90.0, 0.0, 0.0, del = true)))
      q.processAllAvailable()
      q.stop()
      spark.table(name)
        .select("pair_id", "order_id", "order_type")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2)))
        .toList
    }

    val withTtl = run(Some(5 * 60 * 1000L), "ots_ttl_out")
    val without = run(None, "ots_nottl_out")
    assert(withTtl.contains((1, 11L, "flashed-limit"))) // state was dropped
    assert(without.contains((1, 11L, "market")))        // state survived
  }

  test("classifier carries the stale best across an emptied side (batch as-of semantics)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val t0 = 1_700_000_000_000_000L
    def evt(ts: Long, oid: Long, no: Int, side: String, price: Double,
        amount: Double, fill: Double, del: Boolean) =
      StreamingOps.OrderEvt(1, ts, oid, no, side, price, amount, fill, del)
    val ms = MemoryStream[StreamingOps.OrderEvt](spark)
    val q = StreamingOps.orderTypeStream(ms.toDS(), spark)
      .writeStream.outputMode("append")
      .format("memory").queryName("ots_carry_out")
      .start()
    // batch 1: a bid rests, then deletes — the bid side EMPTIES, and
    // the carried best (100) must survive the state round-trip
    ms.addData(Seq(
      evt(t0, 10L, 1, "b", 100.0, 5.0, 0.0, del = false),
      evt(t0 + 1, 10L, 2, "b", 100.0, 0.0, 0.0, del = true)))
    q.processAllAvailable()
    // batch 2: a sell under the STALE bid arrives and fills — the
    // batch `last(best_bid ignore nulls)` as-of judges it aggressive
    // (prevailing bid 100), so its final type is "market"; a
    // live-book-only quote (None) would have called it resting
    ms.addData(Seq(
      evt(t0 + 2, 11L, 1, "s", 95.0, 5.0, 2.0, del = false),
      evt(t0 + 3, 11L, 2, "s", 95.0, 0.0, 0.0, del = true)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ots_carry_out")
      .select("order_id", "order_type")
      .collect().map(r => (r.getLong(0), r.getString(1))).toList
    assert(rows.contains((10L, "flashed-limit")))
    assert(rows.contains((11L, "market")))
  }

  test("streaming L1 equals batch L1 on the same event log") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val l3 = Level3Source.level3(Tables.load(spark, dir, "events"))
    val events = l3.select(
      col("pair_id").as("pairId"), col("microtimestamp").as("ts"),
      col("order_id").as("orderId"), col("side"), col("price"),
      col("amount"), col("is_deleted").as("isDeleted"))

    val stage = java.nio.file.Files.createTempDirectory("graft-stream")
      .toString
    events.write.mode("overwrite").parquet(stage)

    val streamIn = spark.readStream
      .schema(events.schema)
      .parquet(stage)
      .as[BookEvent]
    val q = StreamingOps.l1Stream(streamIn, spark)
      .writeStream.outputMode("append")
      .format("memory").queryName("l1_out")
      .start()
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("l1_out")
      .orderBy("pair_id", "ts")
      .collect().map(_.toSeq).toList
    val batch = MarketOps.spread(l3, spark)
      .orderBy("pair_id", "ts")
      .collect().map(_.toSeq).toList
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("streaming order classification equals batch get.events types") {
    import spark.implicits._
    import graft.market.EventsQuery
    val dir = "/root/testdata/sf0.001"
    val l3 = Level3Source.level3(Tables.load(spark, dir, "events"))
      .localCheckpoint(false)
    val events = l3.select(
      col("pair_id").as("pairId"), col("microtimestamp").as("ts"),
      col("order_id").as("orderId"), col("event_no").as("eventNo"),
      col("side"), col("price"), col("amount"),
      coalesce(col("fill"), lit(0.0)).as("fill"),
      col("is_deleted").as("isDeleted"))

    // three CHRONOLOGICAL chunks through a MemoryStream, one
    // micro-batch each: the book + flag state must survive the
    // GroupState round-trip between batches, not just within one
    val allEvents = events.as[StreamingOps.OrderEvt].collect()
      .sortBy(e => (e.ts, e.orderId, e.eventNo))
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[StreamingOps.OrderEvt](spark)
    val q = StreamingOps.orderTypeStream(ms.toDS(), spark)
      .writeStream.outputMode("append")
      .format("memory").queryName("ots_out")
      .start()
    allEvents.grouped(math.max(1, allEvents.length / 3 + 1)).foreach {
      chunk =>
        ms.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("ots_out")
      .select("pair_id", "order_id", "order_type")
      .orderBy("pair_id", "order_id")
      .collect().map(_.toSeq).toList

    // batch reference: the full-span events query; deleted orders carry
    // their final order-level type on every row — one distinct row each
    val span = l3.agg(min("microtimestamp"), max("microtimestamp"))
      .collect()(0)
    val batch = EventsQuery.events(l3, MarketOps.spread(l3, spark),
        span.getLong(0) - 1, span.getLong(1))
      .filter(col("is_deleted"))
      .select(col("pair_id").cast("int").as("pair_id"),
        col("id").as("order_id"), col("type").as("order_type"))
      .distinct()
      .orderBy("pair_id", "order_id")
      .collect().map(_.toSeq).toList

    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("tradesStream recovers its match buffer and timers from a checkpoint kill") {
    import spark.implicits._
    import graft.market.TradeMatching
    // sf0.01: the matcher's fill stream is empty at sf0.001
    val dir = "/root/testdata/sf0.01"
    val l3 = Level3Source.level3(Tables.load(spark, dir, "events"))
      .localCheckpoint(false)
    val fills = l3.filter(col("fill") > 0).select(
        col("pair_id").cast("int").as("pairId"),
        col("microtimestamp").as("ts"),
        col("order_id").as("orderId"), col("event_no").as("eventNo"),
        col("side"), col("price"), col("fill"),
        col("price_microtimestamp").as("priceTs"))
      .as[StreamingOps.PairFill].collect()
      .sortBy(e => (e.ts, e.orderId, e.eventNo))
    assert(fills.length > 4)
    var cut = fills.length / 2
    while (cut < fills.length && fills(cut).ts == fills(cut - 1).ts) cut += 1
    val maxTs = fills.map(_.ts).max

    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-tr-ckpt").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-tr-out").toString
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[StreamingOps.PairFill](spark)
    def start() = StreamingOps.tradesStream(ms.toDS(), spark)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", outDir)
      .start()

    // run 1: first half committed (some buys decided, the rest
    // buffered in MatchState with a registered event-time timer),
    // tail enqueued, KILL
    val q1 = start()
    ms.addData(fills.slice(0, cut).toIndexedSeq)
    q1.processAllAvailable()
    ms.addData(fills.slice(cut, fills.length).toIndexedSeq)
    q1.stop()

    // run 2: recovery must restore the undecided buffer AND the
    // timeout registration — then the sentinel watermark advancers
    // (outside the valid pair domain) seal and decide every real buy
    val q2 = start()
    q2.processAllAvailable()
    Seq(4L, 8L).foreach { h =>
      ms.addData(Seq(StreamingOps.PairFill(Int.MinValue,
        maxTs + h * 3600L * 1000000L, 0L, 1, "b", 0.0, 1.0, 0L)))
      q2.processAllAvailable()
    }
    q2.stop()

    // the decided set across the kill equals the batch mutual-best
    // matching: no buy decided twice (its decision is checkpointed),
    // none lost (buffer + timer recovered)
    val key = (r: Seq[Any]) => r.map(String.valueOf(_)).mkString("#")
    val streamed = spark.read.parquet(outDir)
      .filter(col("pair_id") =!= Int.MinValue)
      .select("microtimestamp", "price", "amount", "side",
        "buy_microtimestamp", "buy_order_id", "buy_event_no",
        "sell_microtimestamp", "sell_order_id", "sell_event_no",
        "pair_id", "exchange_id")
      .collect().map(_.toSeq).toList.sortBy(key)
    val batch = TradeMatching.inferredMatches(l3)
      .select(col("microtimestamp"), col("price"), col("amount"),
        col("side"), col("buy_microtimestamp"), col("buy_order_id"),
        col("buy_event_no"), col("sell_microtimestamp"),
        col("sell_order_id"), col("sell_event_no"),
        col("pair_id").cast("int").as("pair_id"), col("exchange_id"))
      .collect().map(_.toSeq).toList.sortBy(key)
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("orderTypeStream recovers flags and carried quote from a checkpoint kill") {
    import spark.implicits._
    import graft.market.EventsQuery
    val dir = "/root/testdata/sf0.001"
    val l3 = Level3Source.level3(Tables.load(spark, dir, "events"))
      .localCheckpoint(false)
    val all = l3.select(
        col("pair_id").cast("int").as("pairId"),
        col("microtimestamp").as("ts"),
        col("order_id").as("orderId"), col("event_no").as("eventNo"),
        col("side"), col("price"), col("amount"),
        coalesce(col("fill"), lit(0.0)).as("fill"),
        col("is_deleted").as("isDeleted"))
      .as[StreamingOps.OrderEvt].collect()
      .sortBy(e => (e.ts, e.orderId, e.eventNo))
    var cut = all.length / 2
    while (cut < all.length && all(cut).ts == all(cut - 1).ts) cut += 1

    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-ot-ckpt").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-ot-out").toString
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[StreamingOps.OrderEvt](spark)
    def start() = StreamingOps.orderTypeStream(ms.toDS(), spark)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", outDir)
      .start()

    val q1 = start()
    ms.addData(all.slice(0, cut).toIndexedSeq)
    q1.processAllAvailable()
    ms.addData(all.slice(cut, all.length).toIndexedSeq)
    q1.stop()
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()

    // classifications depend on the recovered per-order flag history
    // AND the carried best quote (aggressor tests against it): a lost
    // ClassifyState misclassifies every order whose life spans the
    // kill, and a lost carry misjudges the first post-restart episode
    val streamed = spark.read.parquet(outDir)
      .select("pair_id", "order_id", "order_type")
      .orderBy("pair_id", "order_id")
      .collect().map(_.toSeq).toList
    val span = l3.agg(min("microtimestamp"), max("microtimestamp"))
      .collect()(0)
    val batch = EventsQuery.events(l3, MarketOps.spread(l3, spark),
        span.getLong(0) - 1, span.getLong(1))
      .filter(col("is_deleted"))
      .select(col("pair_id").cast("int").as("pair_id"),
        col("id").as("order_id"), col("type").as("order_type"))
      .distinct()
      .orderBy("pair_id", "order_id")
      .collect().map(_.toSeq).toList
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("l1Stream recovers from a checkpoint kill: no lost or duplicate ticks") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val l3 = Level3Source.level3(Tables.load(spark, dir, "events"))
      .localCheckpoint(false)
    // total replay order (ts, order_id, event_no) — the deterministic
    // feed the replay harnesses use
    val all = l3.orderBy("microtimestamp", "order_id", "event_no")
      .select(
        col("pair_id").as("pairId"), col("microtimestamp").as("ts"),
        col("order_id").as("orderId"), col("side"), col("price"),
        col("amount"), col("is_deleted").as("isDeleted"))
      .as[BookEvent].collect()
    assert(all.length > 10)

    // cut at half, extended to an episode boundary (same-ts events are
    // one atomic book transition)
    var cut = all.length / 2
    while (cut < all.length && all(cut).ts == all(cut - 1).ts) cut += 1

    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-l1-ckpt").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-l1-out").toString
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[BookEvent](spark)
    // the FILE sink — the fault-tolerant sink whose commit log gives
    // exactly-once output across restarts (the memory sink refuses
    // checkpoint recovery by design)
    def start() = StreamingOps.l1Stream(ms.toDS(), spark)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", outDir)
      .start()

    // run 1: process the first half, then enqueue the tail and KILL
    // before it is processed — the book/lastTick state for the first
    // half lives only in the state-store checkpoint now
    val q1 = start()
    ms.addData(all.slice(0, cut).toIndexedSeq)
    q1.processAllAvailable()
    val beforeKill = spark.read.parquet(outDir).count()
    assert(beforeKill > 0)
    ms.addData(all.slice(cut, all.length).toIndexedSeq)
    q1.stop()

    // run 2: restart from the same checkpoint — the engine reloads the
    // per-pair GroupState, replays exactly the uncommitted tail, and
    // the sink's commit log admits each batch once
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()

    // total emissions ≡ the batch twin: nothing lost at the kill (the
    // tail replays), nothing duplicated (the committed first half does
    // not re-emit), and the recovered book state is the one the first
    // half built (a lost lastTick would emit a spurious first-tick
    // after restart; a lost book would change every quote after it)
    val sortKey = (r: Seq[Any]) =>
      (r(0).asInstanceOf[Int].toLong, r(1).asInstanceOf[Long])
    val streamed = spark.read.parquet(outDir)
      .select("pair_id", "ts", "bid_price", "bid_qty", "ask_price",
        "ask_qty")
      .collect().map(_.toSeq).toList.sortBy(sortKey)
    assert(streamed.length > beforeKill)
    val batch = MarketOps.spread(l3, spark)
      .collect().map(_.toSeq).toList.sortBy(sortKey)
    assert(streamed == batch)
  }

  test("stateless band fingerprints equal the relational minhash bands") {
    import graft.pipeline.TextPipeline
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val rel = TextPipeline.minhashBands(docs)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .toSet
    val stateless = TextPipeline.minhashBandsStateless(docs)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .toSet
    assert(stateless.nonEmpty && stateless === rel)
  }

  test("streaming index probe equals the batch probe, across a restart") {
    import spark.implicits._
    import graft.pipeline.TextPipeline
    import graft.storage.Lake
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text").localCheckpoint(false)
    val base = docs.filter(col("doc_id") % 4 =!= 0)
    val batchDocs = docs.filter(col("doc_id") % 4 === 0)
    val idxPath = java.nio.file.Files
      .createTempDirectory("graft-probe-stream-idx").toString
    Lake.writeDedupIndex(base, TextPipeline.minhashBands(base), idxPath)
    val (h, b) = Lake.readDedupIndex(spark, idxPath)

    val inputs = batchDocs.as[(Long, String)].collect()
      .map { case (id, t) => StreamingOps.DocIn(id, t) }
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-probe-ckpt").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-probe-out").toString
    val cut = inputs.length / 2

    // first half through the fault-tolerant FILE sink, then enqueue
    // the tail and KILL before it commits
    val ms = MemoryStream[StreamingOps.DocIn](spark, 1)
    def start() = StreamingOps.indexProbeStream(ms.toDS(), spark, h, b)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", outDir)
      .start()
    val q1 = start()
    ms.addData(inputs.slice(0, cut).toIndexedSeq)
    q1.processAllAvailable()
    assert(spark.read.parquet(outDir).count() > 0)
    ms.addData(inputs.slice(cut, inputs.length).toIndexedSeq)
    q1.stop()

    // restart from the checkpoint: the tail replays exactly once
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()

    // every doc appears exactly once, with exactly the batch verdict
    val streamed = spark.read.parquet(outDir)
      .collect().map(_.toSeq).toList
      .map(r => (r.head.asInstanceOf[Long], r)).toMap
    val batch = TextPipeline.indexProbe(batchDocs, h, b)
      .collect().map(_.toSeq).toList
      .map(r => (r.head.asInstanceOf[Long], r)).toMap
    assert(spark.read.parquet(outDir).count() === batch.size.toLong)
    assert(streamed === batch)
    assert(batch.values.exists(r => r(2) == false))
  }

  test("streaming anomaly probe equals the batch screen on the boundary fixture") {
    import spark.implicits._
    import graft.relational.CoreQueries
    // the FunnelSpec discriminating set: a lone deviant at exactly
    // past z² = 9 among 20 identical peers, plus a zero-variance type
    // that must flag nothing — served through the stored-stats probe
    // in 4 micro-batches
    val ev = ((1L to 20L).map(i => (i, "a", 10.0)) ++
      Seq((21L, "a", 200.0)) ++
      (22L to 25L).map(i => (i, "b", 5.0)))
      .toDF("event_id", "event_type", "value")
    val streamed = StreamingOps.anomalyProbeReplay(ev, spark)
      .collect().map(_.toSeq).toSet
    val batch = CoreQueries.eventAnomaliesOf(ev)
      .collect().map(_.toSeq).toSet
    assert(streamed === batch)
    assert(batch.size === 1)
  }

  test("replay harness removes its checkpoint directory, also when the build throws") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    // the harness checkpoints under /dev/shm, or java.io.tmpdir where
    // there is no writable RAM filesystem
    def checkpoints(): Set[String] =
      Seq("/dev/shm", System.getProperty("java.io.tmpdir"))
        .map(java.nio.file.Paths.get(_))
        .filter(java.nio.file.Files.isDirectory(_))
        .flatMap { d =>
          val s = java.nio.file.Files.list(d)
          try s.iterator().asScala.map(_.toString).toList finally s.close()
        }
        .filter(_.contains("graft_replay_ck_")).toSet
    val before = checkpoints()

    // (a) a replay that runs to completion
    val evts = Array(
      BookEvent(1, 1L, 1L, "b", 100.0, 1.0, false),
      BookEvent(1, 1L, 2L, "s", 101.0, 1.0, false),
      BookEvent(1, 2L, 3L, "b", 100.5, 2.0, false),
      BookEvent(1, 3L, 2L, "s", 101.0, 1.0, true))
    val ticks = StreamingOps.l1Replay(spark.emptyDataFrame, spark,
      nChunks = 2, preOrdered = Some(evts)).collect()
    assert(ticks.nonEmpty)
    assert(checkpoints() === before)

    // (b) a build that throws before the query starts
    val boom = intercept[IllegalStateException] {
      StreamingOps.replayChunked(spark, evts, (e: BookEvent) => e.ts, 2,
        "graft_failing_replay",
        (_: org.apache.spark.sql.Dataset[BookEvent], _: SparkSession) =>
          throw new IllegalStateException("build failed"))
    }
    assert(boom.getMessage === "build failed")
    assert(checkpoints() === before)
  }

  test("l1Stream and l2Stream drop an event behind the watermark") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val t0 = 1700000000000000L // µs
    val hour = 3600L * 1000000L
    val open = Seq(
      BookEvent(1, t0, 1L, "b", 100.0, 1.0, false),
      BookEvent(1, t0, 2L, "s", 101.0, 1.0, false))
    // moves the watermark to t0 + 1 h - 2 min
    val later = Seq(BookEvent(1, t0 + hour, 3L, "b", 99.0, 2.0, false))
    // about 1 h behind that watermark; would raise the best bid
    val late = Seq(BookEvent(1, t0 + 10000000L, 4L, "b", 100.5, 3.0, false))
    val after = Seq(BookEvent(1, t0 + hour + 1000000L, 3L, "b", 99.0, 2.0,
      true))

    def run(stream: (org.apache.spark.sql.Dataset[BookEvent],
        SparkSession) => org.apache.spark.sql.DataFrame, name: String,
        batches: Seq[Seq[BookEvent]]): List[Seq[Any]] = {
      val ms = MemoryStream[BookEvent](spark)
      val q = stream(ms.toDS(), spark).writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try batches.foreach { b => ms.addData(b); q.processAllAvailable() }
      finally q.stop()
      val rows = spark.table(name).collect().map(_.toSeq).toList
      spark.catalog.dropTempView(name)
      rows.sortBy(_.mkString("|"))
    }
    for ((stream, kind) <- Seq(
        (StreamingOps.l1Stream _, "l1"), (StreamingOps.l2Stream _, "l2"))) {
      val onTime = run(stream, s"late_${kind}_without",
        Seq(open, later, after))
      val withLate = run(stream, s"late_${kind}_with",
        Seq(open, later, late, after))
      assert(onTime.nonEmpty)
      assert(withLate === onTime, s"$kind applied a late event")
    }
  }

  test("l1Stream triggers on a file: checkpoint start no child process") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import jdk.jfr.consumer.RecordingStream
    // loading Hadoop's Shell class starts one `setsid` probe per JVM;
    // load it before recording, as any earlier Hadoop use would have
    Class.forName("org.apache.hadoop.util.Shell")
    // (command, starting thread) of every process the JVM starts
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val rs = new RecordingStream()
    rs.enable("jdk.ProcessStart")
    rs.onEvent("jdk.ProcessStart", e => {
      starts.add((e.getString("command"),
        Option(e.getThread).map(_.getJavaName).getOrElse("")))
      ()
    })
    rs.startAsync()
    val sentinel = "true"
    try {
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-l1-spawn-ckpt").toString
      val ms = MemoryStream[BookEvent](spark)
      val q = StreamingOps.l1Stream(ms.toDS(), spark)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("memory").queryName("l1_spawns").start()
      try (1 to 5).foreach { i =>
        val ts = 1700000000000000L + i * 1000000L
        ms.addData(Seq(
          BookEvent(1, ts, 2L * i, "b", 100.0 + i, 1.0, false),
          BookEvent(1, ts, 2L * i + 1, "s", 200.0 - i, 1.0, false)))
        q.processAllAvailable()
      } finally q.stop()
      assert(spark.table("l1_spawns").count() == 5)
      spark.catalog.dropTempView("l1_spawns")
      // a process of the test's own: once the recording delivers it,
      // it has delivered every process started before it
      new ProcessBuilder(sentinel).start().waitFor()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!starts.asScala.exists(_._1 == sentinel) &&
          System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(starts.asScala.exists(_._1 == sentinel),
        "the recording saw no process start")
    } finally rs.close()
    // Spark deletes a garbage-collected session's artifact directory
    // with `rm -rf` from the JDK's Cleaner thread, whenever a GC runs;
    // that is not the stream's doing
    val spawned = starts.asScala.toList.filterNot { case (cmd, thread) =>
      cmd == sentinel || thread.startsWith("Cleaner-")
    }
    assert(spawned.isEmpty,
      s"${spawned.size} child processes, e.g. ${spawned.take(3)}")
  }
}
