package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftApi
import graft.market.Level3Source
import graft.sequential.{EpsilonDrawsOp, Quote, TradingStrategyOp}
import graft.storage.Lake

/** Read path: one client runs a closed loop of seeded requests for one
  * pair at a time against a two-month lake built during set-up. One
  * cycle holds point requests at several instants (the order book and
  * its SQL twin at every instant are the frequent operation, whose
  * latency tail is measured), windowed and whole-history range
  * requests, two windows on pair 1 through the client cache that slide
  * by a third of their width (so the cache covers two thirds of each
  * from the one before) and a scattered one (which it does not), and
  * SQL table-function twins.
  * Cache and SQL answers are checked against their API twins. */
final class Analyst(spark: SparkSession) extends Workload {
  // the sf 0.01 fixture's month, twice
  private val shape = Inputs.fixtureMonth(0.01, months = 2)
  // the order book and its SQL twin are asked at this many instants a
  // cycle, so that a cycle holds the 24 samples of one kind of request
  // the latency tail needs; the other point requests at every fourth
  private val pointInstants = 12
  private val otherEvery = 4
  private val HourUs = 3600L * 1000000L
  private val windowUs = 6 * HourUs
  private val slideUs = 2 * HourUs

  def sizes: Map[String, Any] = Map("events" -> shape.months * shape.perMonth,
    "months" -> shape.months, "users" -> shape.users, "pairs" -> 3,
    "delete_share" -> shape.deleteShare, "zipf_skew" -> shape.skew,
    "point_instants" -> pointInstants, "other_point_every" -> otherEvery,
    "window_hours" -> windowUs / HourUs, "slide_hours" -> slideUs / HourUs)
  def unitSeconds: Int = 30
  def frequent(op: String): Boolean = Analyst.FrequentOps(op)

  private var lake: DataFrame = _
  private var apis: Map[Int, GraftApi] = Map.empty
  private var clients: Map[Int, GraftApi.CachedClient] = Map.empty
  private var digs: Map[String, String] = Map.empty
  def digests: Map[String, String] = digs
  private var rnd: Random = _
  private var span: (Long, Long) = (0L, 0L)

  def setup(ctx: Ctx): Unit = {
    val evs = Inputs.events(ctx.seed, shape)
    digs = Map("events" -> Inputs.digest(evs.iterator))
    val path = ctx.dir(s"lake-${System.nanoTime()}")
    val l3 = Trace.span("market.level3.build")(
      Level3Source.level3(Frames.events(spark, evs.toSeq)).localCheckpoint(true))
    Trace.span("storage.append")(Lake.writeLevel3(l3, path))
    lake = Lake.readLevel3(spark, path)
    apis = (1 to 3).map(p => p -> GraftApi(spark, lake.filter(col("pair_id") === p))).toMap
    apis.foreach { case (p, _) =>
      lake.filter(col("pair_id") === p).createOrReplaceTempView(s"l3_p$p")
    }
    clients = apis.map { case (p, a) => p -> a.cachedClient() }
    span = (Inputs.monthStart(0), Inputs.monthStart(shape.months))
    rnd = new Random(ctx.seed ^ 0x5eedL)
    slide = None
  }

  private var slide: Option[Long] = None

  private def instant(): Long =
    span._1 + HourUs * 24 + (rnd.nextDouble() * (span._2 - span._1 - HourUs * 48)).toLong

  /** Plan then execute a request's frame, so the traced run can split
    * planning from execution; returns the rows. */
  private def run(df: => DataFrame): Array[Row] = {
    val d = Trace.span("api.plan") { val d = df; d.queryExecution.executedPlan; d }
    val rows = Trace.span("api.exec")(d.collect())
    Layer.returned(rows.length)
    rows
  }

  private def sqlRows(q: String): Array[Row] = {
    val d = Trace.span("plans.sql_analyze")(spark.sql(q))
    Trace.span("api.exec")(d.collect())
  }

  def step(ctx: Ctx, log: OpLog): Unit = cycle(ctx, log, pointInstants)

  /** A cycle with the point requests at one instant. */
  def warmup(ctx: Ctx, log: OpLog): Unit = cycle(ctx, log, 1)

  /** One cycle of the request mix, for one seeded pair. */
  private def cycle(ctx: Ctx, log: OpLog, instants: Int): Unit = {
    val p = 1 + rnd.nextInt(3)
    val api = apis(p)
    (0 until instants).foreach { i =>
      val t = instant()
      var book: Array[Row] = Array.empty
      log.op("api.orderBook") { book = run(api.orderBook(t)); (1L, true) }
      log.op("sql.order_book") {
        (1L, Check.canon(sqlRows(s"SELECT * FROM order_book('l3_p$p', $t)")) == Check.canon(book))
      }
      if (i % otherEvery == 0) {
        log.op("api.spreadAt") { run(api.spreadAt(t)); (1L, true) }
        log.op("api.startingDepth") { run(api.startingDepth(t)); (1L, true) }
        log.op("api.depthSummary") {
          run(api.depthSummary(Seq(t, t + HourUs, t + 2 * HourUs))); (1L, true)
        }
      }
    }
    // two windows on pair 1 sliding by a third of their width: the
    // cache holds two thirds of each from the one before, across
    // cycles too (only the SQL twin of the first is asked, to keep the
    // cycle short)
    val s = slide.getOrElse(instant())
    slide = Some(s + 2 * slideUs)
    (0 until 2).foreach { k =>
      windowed(ctx, log, 1, s + k * slideUs, s + k * slideUs + windowUs,
        sliding = true, sql = k == 0)
    }
    // scattered window: no cache coverage
    val s2 = instant()
    windowed(ctx, log, p, s2, s2 + windowUs, sliding = false, sql = true)
    log.op("api.events") { run(api.events(s, s + windowUs)); (1L, true) }
    // whole-history replays of the pair
    var quotes: Array[Row] = Array.empty
    log.op("api.spread") { quotes = run(api.spread()); (1L, true) }
    log.op("api.trades") { run(api.trades()); (1L, true) }
    log.op("api.tradingPeriod") { run(api.tradingPeriod(50L)); (1L, true) }
    log.op("api.tradingStrategy") { run(api.tradingStrategy(0.001, 0.0)); (1L, true) }
    log.op("api.epsilonDrawUpDowns") { run(api.epsilonDrawUpDowns(1.0)); (1L, true) }
    if (ctx.traced && !log.warming) sequential(p, quotes)
  }

  /** `depth` through the API, the client cache and (when `sql`) the SQL
    * table function: the answers must agree. */
  private def windowed(ctx: Ctx, log: OpLog, p: Int, s: Long, e: Long,
      sliding: Boolean, sql: Boolean): Unit = {
    var direct: Seq[Row] = Seq.empty
    log.op("api.depth") { direct = run(apis(p).depth(s, e)).toSeq; (1L, true) }
    log.op("api.cachedDepth") {
      val client = clients(p)
      // every sliding-window request of the traced run, traced or not:
      // coverage is known before the call and costs nothing to work out
      if (ctx.traced && !log.warming && sliding) {
        val (gaps, covered) = coverage(client.cachedPeriods, s + 1, e + 1)
        Layer.put("api.cache.gap_loads_per_req", gaps)
        Layer.put("api.cache.covered_frac", covered)
      }
      (1L, Check.canon(client.depth(s, e)) == Check.canon(direct))
    }
    if (sql) log.op("sql.depth") {
      (1L, Check.canon(sqlRows(s"SELECT * FROM depth('l3_p$p', $s, $e)")) == Check.canon(direct))
    }
  }

  /** Uncovered gaps and covered share of [s, e) given cached periods. */
  private def coverage(periods: Seq[(Long, Long)], s: Long, e: Long): (Double, Double) = {
    if (periods.exists { case (a, b) => a <= s && e <= b }) return (0.0, 1.0)
    val ivs = periods.map { case (a, b) => (math.max(a, s), math.min(b, e)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    val covered = ivs.map { case (a, b) => b - a }.sum
    var gaps = 0
    var cur = s
    ivs.foreach { case (a, b) => if (a > cur) gaps += 1; cur = math.max(cur, b) }
    if (cur < e) gaps += 1
    (gaps.toDouble, covered.toDouble / (e - s))
  }

  /** The sequential kernels, called directly on the pair's quotes. */
  private def sequential(p: Int, quotes: Array[Row]): Unit = {
    val qs = quotes.map { r =>
      Quote(p, r.getAs[Long]("ts"), Option(r.getAs[Any]("bid_price")).map(_.asInstanceOf[Double]),
        Option(r.getAs[Any]("ask_price")).map(_.asInstanceOf[Double]))
    }
    val was = Trace.on
    Trace.on = true
    val t0 = System.nanoTime()
    TradingStrategyOp.positions(p, qs.iterator, 0.001, 0.0).size
    val t1 = System.nanoTime()
    EpsilonDrawsOp.draws(p, qs.iterator.collect {
      case Quote(_, ts, Some(b), Some(a)) if b <= a => (ts, (a + b) / 2)
    }, 1.0).size
    val t2 = System.nanoTime()
    Layer.sample("sequential.strategy_ms", (t1 - t0) / 1e6)
    Layer.sample("sequential.draws_ms", (t2 - t1) / 1e6)
    Trace.on = was
  }

}

object Analyst {
  /** The point requests: one instant each. */
  val PointOps: Set[String] = Set("api.orderBook", "api.spreadAt",
    "api.startingDepth", "api.depthSummary", "sql.order_book")
  /** The frequent operation: the order book at an instant, through the
    * API or the SQL table function. */
  val FrequentOps: Set[String] = Set("api.orderBook", "sql.order_book")
}
