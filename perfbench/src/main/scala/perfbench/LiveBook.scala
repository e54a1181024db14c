package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.market.{BookEvent, MarketOps}
import graft.streaming.StreamingOps

/** The live book: fixed-size micro-batches of newly built book events
  * (and the fills among them) go through the L1, L2 and trades queries
  * in a closed loop — the next batch is added only when every query fed
  * has processed the previous one. Each query reads its own stream and
  * the queries are fed one after another, so no two triggers compete
  * for the cores. The trades query runs on a slower trigger: it gets the
  * fills of three batches at once, with the first of every three. One
  * generation is one set of running queries over fresh streams; its
  * streamed L1 output must equal the batch `MarketOps.spread` over
  * exactly the events fed. */
final class LiveBook(spark: SparkSession, batchEvents: Int) {
  import spark.implicits._

  private var book: Array[BookEvent] = Array.empty
  private var fills: Array[StreamingOps.PairFill] = Array.empty

  /** Queue the book events and fills of newly built level3 rows, which
    * are later in time than everything queued before. */
  def add(rows: DataFrame): Unit = {
    book ++= rows.select(col("pair_id").as("pairId"), col("microtimestamp").as("ts"),
        col("order_id").as("orderId"), col("side"), col("price"), col("amount"),
        col("is_deleted").as("isDeleted"))
      .as[BookEvent].collect().sortBy(e => (e.ts, e.orderId))
    fills ++= rows.filter(col("fill") > 0).select(
        col("pair_id").cast("int").as("pairId"), col("microtimestamp").as("ts"),
        col("order_id").as("orderId"), col("event_no").as("eventNo"),
        col("side"), col("price"), col("fill"),
        col("price_microtimestamp").as("priceTs"))
      .as[StreamingOps.PairFill].collect().sortBy(f => (f.ts, f.orderId, f.eventNo))
  }

  private var gen = -1
  private var group = 0
  private var batches = 0
  private var pos = 0
  private var fillPos = 0
  private var l1Events: MemoryStream[BookEvent] = _
  private var l2Events: MemoryStream[BookEvent] = _
  private var fillStream: MemoryStream[StreamingOps.PairFill] = _
  private var queries: Seq[StreamingQuery] = Seq.empty

  /** Stop the running queries and start a new generation, whose
    * operations form check group `g`. */
  def restart(ckpt: String, g: Int): Unit = {
    stop()
    gen += 1
    group = g
    batches = 0
    book = Array.empty
    fills = Array.empty
    pos = 0
    fillPos = 0
    l1Events = MemoryStream[BookEvent](spark)
    l2Events = MemoryStream[BookEvent](spark)
    fillStream = MemoryStream[StreamingOps.PairFill](spark)
    def sink(df: DataFrame, name: String) = df.writeStream.outputMode("append")
      .option("checkpointLocation", s"$ckpt/$name")
      .format("memory").queryName(s"${name}_$gen").start()
    queries = Seq(
      sink(StreamingOps.l1Stream(l1Events.toDS(), spark), "l1"),
      sink(StreamingOps.l2Stream(l2Events.toDS(), spark), "l2"),
      sink(StreamingOps.tradesStream(fillStream.toDS(), spark), "trades"))
  }

  def stop(): Unit = { queries.foreach(_.stop()); queries = Seq.empty }

  /** Whether queued events are still to be fed. */
  def pending: Boolean = pos < book.length

  /** End of the batch starting at `p`: `batchEvents` events, extended so
    * no episode (events sharing a timestamp) is split. */
  private def cut(p: Int): Int = {
    var end = math.min(p + batchEvents, book.length)
    while (end < book.length && book(end).ts == book(end - 1).ts) end += 1
    end
  }

  /** One closed-loop micro-batch as an operation of `log`. Its parts
    * are the catch-up latencies of the L1 and L2 queries: from adding
    * the batch to a query's stream until that query has processed it. */
  def batch(log: OpLog): Unit = {
    val end = cut(pos)
    val events = book.slice(pos, end).toIndexedSeq
    val lastTs = book(end - 1).ts
    var fEnd = fillPos
    if (batches % 3 == 0) while (fEnd < fills.length && fills(fEnd).ts <= lastTs) fEnd += 1
    val fb = fills.slice(fillPos, fEnd).toIndexedSeq
    log.op("stream.batch", group) {
      log.part(feed(queries(0))(l1Events.addData(events)))
      log.part(feed(queries(1))(l2Events.addData(events)))
      if (fb.nonEmpty) feed(queries(2))(fillStream.addData(fb))
      (events.length.toLong, true)
    }
    pos = end
    fillPos = fEnd
    batches += 1
  }

  /** Milliseconds from adding data to `q`'s stream until `q` has
    * processed it. */
  private def feed(q: StreamingQuery)(add: => Unit): Double = {
    val t0 = System.nanoTime()
    add
    q.processAllAvailable()
    (System.nanoTime() - t0) / 1e6
  }

  /** The streamed L1 ticks of this generation must equal the batch L1
    * stream of `level3` over exactly the events fed so far. */
  def verify(log: OpLog, level3: DataFrame): Unit = if (gen >= 0 && pos > 0) {
    val last = book(pos - 1).ts
    val streamed = Check.canon(spark.table(s"l1_$gen").collect())
    val batch = Check.canon(
      MarketOps.spread(level3.filter(col("microtimestamp") <= last), spark).collect())
    if (streamed.isEmpty || streamed != batch)
      log.failGroup(group, s"live book generation $gen: streamed L1 " +
        s"(${streamed.size} rows) != MarketOps.spread (${batch.size} rows)")
  }
}
