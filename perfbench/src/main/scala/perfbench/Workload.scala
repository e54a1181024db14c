package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark workload. The runner calls `setup` several times (each
  * call replaces the previous inputs and is timed as set-up), then
  * `warmup` once, untimed, then `step` — one whole unit of work,
  * checked — a fixed number of times. */
trait Workload {
  /** Input sizes, printed with every run. */
  def sizes: Map[String, Any]
  def setup(ctx: Ctx): Unit
  /** SHA-256 of each generated input. */
  def digests: Map[String, String]
  def step(ctx: Ctx, log: OpLog): Unit
  /** A shortened unit that takes every code path `step` takes, so the
    * timed units run on compiled code; checked like a timed unit. */
  def warmup(ctx: Ctx, log: OpLog): Unit
  /** Nominal length of one unit of work, in seconds. */
  def unitSeconds: Int
  /** The workload's short, frequent kind of operation, whose latency
    * median and tail are end-to-end metrics. */
  def frequent(op: String): Boolean
}

/** Per-layer samples taken during traced operations; each per-layer
  * metric is the median of its samples. */
object Layer {
  val samples: mutable.Map[String, mutable.ArrayBuffer[Double]] = mutable.Map.empty

  /** Rows each traced request returned, by request id. */
  val reqRows: mutable.Map[Long, Long] = mutable.Map.empty

  def returned(rows: Long): Unit =
    if (Trace.on) reqRows(Trace.currentReq) = reqRows.getOrElse(Trace.currentReq, 0L) + rows

  def sample(name: String, v: Double): Unit = if (Trace.on) put(name, v)

  /** Record a sample whether or not the current operation is traced. */
  def put(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
}

object Check {
  /** Row count and an order-insensitive digest (sum of 64-bit row
    * hashes) of a frame, over the given columns cast to fixed types. */
  def digest(df: DataFrame, cols: Seq[Column]): (Long, java.math.BigDecimal) = {
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum("h")).head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  /** The level3 columns with canonical types. */
  val Level3Cols: Seq[Column] = Seq(
    col("microtimestamp").cast("long"), col("order_id").cast("long"),
    col("event_no").cast("int"), col("side"), col("price").cast("double"),
    col("amount").cast("double"), col("fill").cast("double"),
    col("next_microtimestamp").cast("long"), col("is_deleted"),
    col("price_microtimestamp").cast("long"),
    col("price_event_no").cast("int"), col("pair_id").cast("int"),
    col("exchange_id").cast("int"), col("event_id").cast("long"))

  /** Rows as sorted strings, for exact comparisons of small answers. */
  def canon(rows: Iterable[org.apache.spark.sql.Row]): Seq[String] =
    rows.map(_.toSeq.mkString("|")).toSeq.sorted
}

object Frames {
  /** The generated events as a DataFrame of the `events` table schema. */
  def events(spark: SparkSession, evs: Seq[Inputs.Event]): DataFrame = {
    import spark.implicits._
    evs.toDF().withColumn("ts", timestamp_micros(col("ts")))
  }
}
