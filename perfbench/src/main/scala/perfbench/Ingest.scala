package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.market.Level3Source
import graft.sources.{BitfinexFeed, CapturePump}
import graft.storage.Lake

/** Write path: everything that lands or derives data, and none of the
  * read API. One pass
  *  - captures a Bitfinex session (wire frames through the reconnecting
  *    pump and reorder buffer, parse, level3, lake),
  *  - builds an events log month by month into a second lake
  *    (`openState`/`continueBuild`, pointer corrections rewritten into
  *    the partitions they touch, `writeLevel3(incremental = true)`),
  *    then feeds the month's new book events to the live book as
  *    closed-loop micro-batches,
  *  - compacts the lake, and
  *  - curates a document corpus and its embeddings.
  * A pass's lakes are checked against full builds and its live book
  * against the batch L1 stream. Its latency samples are the L1 and
  * L2 live-book catch-ups, the pass's one frequent operation. */
final class Ingest(spark: SparkSession) extends Workload {
  // the sf 0.001 fixture's month, twice, with skewed user activity
  // (Zipf 1: an assumption, the fixture's activity is uniform) so that a
  // few long order streams cross the month boundary
  private val shape = Inputs.fixtureMonth(0.001, months = 2).copy(skew = 1.0)
  private val nFrames = 1000
  private val channel = 17082
  // twelve micro-batches a pass, each giving an L1 and an L2 catch-up
  // sample: more than the 20 samples a latency tail above the median
  // needs
  private val batchEvents = 170
  private val live = new LiveBook(spark, batchEvents)
  private val curate = new Curate(spark, nDocs = 300, nVecs = 300)

  def sizes: Map[String, Any] = Map("events" -> shape.months * shape.perMonth,
    "months" -> shape.months, "users" -> shape.users,
    "delete_share" -> shape.deleteShare, "zipf_skew" -> shape.skew,
    "frames" -> nFrames, "stream_batch_events" -> batchEvents,
    "docs" -> curate.nDocs, "vectors" -> curate.nVecs, "vector_dim" -> curate.dim)
  def unitSeconds: Int = 30
  def frequent(op: String): Boolean = op == "stream.batch"

  private var raw: String = _
  private var truth: Array[String] = _
  private var wire: Array[String] = _
  private var frameEvents = 0L
  private var digs: Map[String, String] = Map.empty
  def digests: Map[String, String] = digs

  def setup(c: Ctx): Unit = {
    val evs = Inputs.events(c.seed, shape)
    val (t, w) = Inputs.frames(c.seed + 1, nFrames, channel)
    truth = t
    wire = w
    frameEvents = t.iterator.map { f =>
      if (f.contains("\"hb\"")) 0L
      else if (f.contains("[[")) f.split("\\], \\[").length.toLong
      else 1L
    }.sum
    // the raw log is staged month by month, as an ETL would receive it
    raw = c.dir(s"raw-${System.nanoTime()}")
    Frames.events(spark, evs.toSeq)
      .withColumn("m", date_format(col("ts"), "yyyy-MM"))
      .write.partitionBy("m").parquet(raw)
    digs = Map("events" -> Inputs.digest(evs.iterator),
      "frames" -> Inputs.digest(w.iterator)) ++ curate.setup(c.seed + 2)
    pass = -1
  }

  private def months: Seq[String] =
    (0 until shape.months).map(m => java.time.Instant.ofEpochSecond(
      Inputs.monthStart(m) / 1000000L).toString.take(7))

  private def month(m: Int): DataFrame =
    spark.read.parquet(raw).filter(col("m") === months(m)).drop("m")

  private var pass = -1
  private def lakePath(p: Int) = raw + s"-lake-$p"
  private def capPath(p: Int) = raw + s"-cap-$p"

  def step(c: Ctx, log: OpLog): Unit = run(c, log, batches = Int.MaxValue)

  /** A pass that feeds the live book one batch. */
  def warmup(c: Ctx, log: OpLog): Unit = run(c, log, batches = 1)

  /** One pass, feeding the live book at most `batches` batches; its
    * lakes and live book are checked at the end. */
  private def run(c: Ctx, log: OpLog, batches: Int): Unit = {
    pass += 1
    val p = pass
    // check groups of the pass: capture, lake, live book, curation
    val g = 4 * p
    live.restart(c.dir(s"ckpt-$p"), g + 2)
    log.op("capture", g)(capture(p))
    var fed = 0
    for (k <- 0 until shape.months) {
      log.op(if (k == 0) "month.open" else "month.carry", g + 1)(buildMonth(p, k))
      while (live.pending && fed < batches) { live.batch(log); fed += 1 }
    }
    log.op("compact", g + 1) {
      if (Trace.on) Layer.sample("storage.files_per_partition", filesPerPartition(lakePath(p)))
      Trace.span("storage.compact")(Lake.compactLevel3(spark, lakePath(p)))
      if (Trace.on) Layer.sample("storage.bytes_per_event",
        bytes(lakePath(p)).toDouble / (shape.months * shape.perMonth))
      (0L, true)
    }
    curate.ops.foreach(_(log, g + 3))
    if (c.traced && !log.warming) curate.candidates()
    verify(log, p)
  }

  /** Capture leg: wire frames through the reconnecting pump and reorder
    * buffer, then parse, build level3 and land it. */
  private def capture(p: Int): (Long, Boolean) = {
    captured = null
    var pulled = 0L
    var emitted = 0L
    var backlogMax = 0L
    val cuts = Seq(wire.length / 3, 2 * wire.length / 3)
    var pos = 0
    val transport = new CapturePump.Transport {
      // the connection drops twice mid-session; each reconnect resumes
      def connect(): Iterator[String] = new Iterator[String] {
        private val end = cuts.find(_ > pos).getOrElse(wire.length)
        def hasNext: Boolean =
          if (pos < end) true
          else if (end < wire.length) throw new CapturePump.TransportException("drop")
          else false
        def next(): String = { val f = wire(pos); pos += 1; pulled += 1; f }
      }
    }
    var clock = 0L
    val ordered = Trace.span("sources.capture") {
      CapturePump.capture(transport, () => { clock += 1000L; clock }, 5000L,
        f => (Inputs.rtsOf(f), if (f.contains("[[")) 0 else 1))
        .map { o =>
          emitted += 1
          backlogMax = math.max(backlogMax, pulled - emitted)
          o.value
        }.toVector
    }
    val frames = framesDf(ordered)
    val rawEv = Trace.span("sources.parse")(
      BitfinexFeed.rawBookEvents(frames).localCheckpoint(true))
    val l3 = Trace.span("market.level3.build")(
      BitfinexFeed.level3FromRaw(rawEv).localCheckpoint(true))
    Trace.span("storage.append")(Lake.writeLevel3(l3, capPath(p)))
    if (Trace.on) {
      Layer.sample("sources.frames_in", pulled.toDouble)
      Layer.sample("sources.reorder_backlog_max", backlogMax.toDouble)
      val kept = rawEv.select("local_timestamp").distinct().count()
      Layer.sample("sources.dropped_frac", 1.0 - kept.toDouble / pulled)
      Layer.sample("market.level3.rows_out", l3.count().toDouble)
      Layer.sample("storage.bytes_written", bytes(capPath(p)).toDouble)
    }
    captured = l3
    (frameEvents, ordered.sameElements(truth))
  }

  private def framesDf(msgs: Seq[String]): DataFrame = {
    import spark.implicits._
    msgs.zipWithIndex.map { case (m, i) => (1, channel, i.toLong, m) }
      .toDF("pair_id", "channel_id", "local_timestamp", "message")
  }

  /** Month leg: carry the open state out of the lake, build the month
    * on top of it, and land the new rows together with the rewritten
    * partitions whose forward pointers the month corrects. */
  private def buildMonth(p: Int, m: Int): (Long, Boolean) = {
    val ev = month(m)
    val path = lakePath(p)
    val (toWrite, fresh) = if (m == 0) {
      val l3 = Trace.span("market.level3.build")(Level3Source.level3(ev).localCheckpoint(true))
      (l3, l3)
    } else {
      val lake = Lake.readLevel3(spark, path)
      val (rows, corr) = Trace.span("market.level3.build") {
        val state = Level3Source.openState(
          lake.withColumn("user_id", col("order_id").divide(1000).cast("long")))
          .localCheckpoint(true)
        if (Trace.on) Layer.sample("market.level3.carry_rows",
          state.filter(col("order_id").isNotNull).count().toDouble)
        val (r, c) = Level3Source.continueBuild(ev, state)
        (r, c.localCheckpoint(true))
      }
      val monthCol = date_format(timestamp_micros(col("microtimestamp")), "yyyy-MM")
      val keyed = lake.withColumn("month", monthCol)
      val touched = keyed.join(corr.select(col("order_id"), col("event_no"),
          col("new_next")), Seq("order_id", "event_no"))
        .select("exchange_id", "pair_id", "month").distinct()
      val rewritten = keyed.join(touched, Seq("exchange_id", "pair_id", "month"), "left_semi")
        .join(corr.select(col("order_id").as("c_oid"), col("event_no").as("c_eno"),
          col("new_next")),
          col("order_id") === col("c_oid") && col("event_no") === col("c_eno"), "left")
        .withColumn("next_microtimestamp",
          coalesce(col("new_next"), col("next_microtimestamp")))
        .drop("c_oid", "c_eno", "new_next", "month")
      // cut the lineage to the lake before overwriting its partitions
      (Trace.span("market.level3.build")(rows.unionByName(rewritten).localCheckpoint(true)),
        rows)
    }
    if (Trace.on) {
      Layer.sample("market.level3.rows_out", toWrite.count().toDouble)
      val before = bytes(path)
      Trace.span("storage.append")(Lake.writeLevel3(toWrite, path, incremental = true))
      Layer.sample("storage.bytes_written", (bytes(path) - before).toDouble)
    } else Lake.writeLevel3(toWrite, path, incremental = true)
    live.add(fresh)
    (shape.perMonth.toLong, true)
  }

  /** The level3 rows the capture leg wrote, built from the frames the
    * pump handed on. */
  private var captured: DataFrame = _
  private lazy val fullDigest = Check.digest(
    Level3Source.level3(spark.read.parquet(raw).drop("m")), Check.Level3Cols)

  /** The month-incremental lake must equal a full build of the log, the
    * captured lake a build over the frames in true exchange order (the
    * capture operation checks that the pump handed them on in that
    * order; here the lake must read back as the rows built from them),
    * and the streamed L1 the batch L1 over the events fed. */
  private def verify(log: OpLog, p: Int): Unit = {
    val got = Check.digest(Lake.readLevel3(spark, lakePath(p)), Check.Level3Cols)
    if (got != fullDigest) log.failGroup(4 * p + 1,
      s"pass $p: incremental lake $got != full build $fullDigest")
    // no rows when the capture operation threw, which it counted as failed
    if (captured != null) {
      val cap = Check.digest(Lake.readLevel3(spark, capPath(p)), Check.Level3Cols)
      val built = Check.digest(captured, Check.Level3Cols)
      if (cap != built) log.failGroup(4 * p,
        s"pass $p: captured lake $cap != rows built from the frames $built")
    }
    live.verify(log, Lake.readLevel3(spark, lakePath(p)))
    live.stop()
    if (p > 0) { rm(lakePath(p - 1)); rm(capPath(p - 1)) }
  }

  private def rm(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
  }

  private def files(path: String): Seq[java.io.File] = {
    val f = new java.io.File(path)
    if (!f.exists()) Seq.empty
    else org.apache.commons.io.FileUtils.listFiles(f, Array("parquet"), true)
      .toArray(Array.empty[java.io.File]).toSeq
  }

  private def bytes(path: String): Long = files(path).map(_.length()).sum

  private def filesPerPartition(path: String): Double = {
    val fs = files(path)
    fs.size.toDouble / math.max(1, fs.map(_.getParent).distinct.size)
  }
}
