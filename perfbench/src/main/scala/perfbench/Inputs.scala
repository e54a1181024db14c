package perfbench

import java.security.MessageDigest

import scala.collection.mutable
import scala.util.Random

/** Seeded input generators. The library only ever sees what these
  * produce; the same seed always produces the same rows, which the
  * per-input SHA-256 digests printed with every run let anyone confirm. */
object Inputs {

  /** A row of the `events` table schema (ts in epoch µs). */
  final case class Event(event_id: Long, ts: Long, user_id: Long,
      event_type: String, value: Double, props: String)

  /** Shape of a generated event log. `users` sets book depth,
    * `deleteShare` the share of `error` events (order deletions) and
    * `skew` the Zipf exponent of user activity (0: every user equally
    * active). */
  final case class LogShape(months: Int, perMonth: Int, users: Int,
      deleteShare: Double, skew: Double)

  /** The shape of the `events` testdata fixture at scale factor `sf`,
    * which covers one month: 1000000 * sf events over 15000 * sf users,
    * so about 67 events per user; a fifth of the events are `error`s;
    * every user is about equally active (at sf 0.1 the busiest tenth of
    * the users holds 12 % of the events). */
  def fixtureMonth(sf: Double, months: Int): LogShape =
    LogShape(months, math.round(1000000 * sf).toInt, math.round(15000 * sf).toInt,
      deleteShare = 0.2, skew = 0.0)

  /** 2024-01-01T00:00:00Z in µs. */
  val Epoch2024: Long = 1704067200000000L

  /** Start of calendar month `m` (0-based from January 2024), in µs. */
  def monthStart(m: Int): Long =
    java.time.LocalDate.of(2024, 1, 1).plusMonths(m.toLong)
      .atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond * 1000000L

  private val Kinds = Array("view", "click", "purchase", "signup")

  /** An events log over `months` calendar months, drawn like the
    * fixture: timestamps uniform over the month, `value` (the order
    * price under the `Level3Source` mapping) exponential with mean 50
    * in cents and independent between events, the other event types
    * equally likely, `props` {"k": 0..99}. Each user is one order
    * stream; an `error` event deletes its current order. Deletes per
    * user stay below the adapter's 1000-incarnation limit. */
  def events(seed: Long, shape: LogShape): Array[Event] = {
    val rnd = new Random(seed)
    val weights = Array.tabulate(shape.users)(u => 1.0 / math.pow(u + 1, shape.skew))
    val cum = weights.scanLeft(0.0)(_ + _).tail
    val total = cum.last
    // users are shuffled so the busiest are not always the lowest ids
    // (pair and side come from user_id)
    val ids = rnd.shuffle((1 to shape.users).map(_.toLong)).toArray
    val deletes = new Array[Int](shape.users)
    val out = new mutable.ArrayBuffer[Event](shape.months * shape.perMonth)
    var eid = 0L
    for (m <- 0 until shape.months) {
      val s = monthStart(m)
      val span = monthStart(m + 1) - s
      val ts = Array.fill(shape.perMonth)(s + (rnd.nextDouble() * span).toLong).sorted
      ts.foreach { t =>
        val x = rnd.nextDouble() * total
        var u = java.util.Arrays.binarySearch(cum, x)
        if (u < 0) u = -u - 1
        u = math.min(u, shape.users - 1)
        val del = rnd.nextDouble() < shape.deleteShare && deletes(u) < 900
        if (del) deletes(u) += 1
        val kind = if (del) "error" else Kinds(rnd.nextInt(Kinds.length))
        val value = math.round(-50.0 * math.log(1.0 - rnd.nextDouble()) * 100) / 100.0
        out += Event(eid, t, ids(u), kind, value, s"""{"k": ${rnd.nextInt(100)}}""")
        eid += 1
      }
    }
    out.toArray
  }

  /** A Bitfinex R0 book-channel session for one pair: a snapshot frame,
    * then single-entry updates (new order, amount change, delete as a
    * zero price) grouped into episodes that share an exchange
    * timestamp, plus heartbeats. Returns (true exchange order, wire
    * order): on the wire a few adjacent frames with different exchange
    * timestamps arrive swapped, which the capture reorder buffer must
    * undo. */
  def frames(seed: Long, nFrames: Int, channel: Int): (Array[String], Array[String]) = {
    val rnd = new Random(seed)
    var rtsMs = (Epoch2024 / 1000L) + rnd.nextInt(86400) * 1000L
    val live = mutable.LinkedHashMap.empty[Long, (Double, Double)]
    var nextId = 4000000000L + rnd.nextInt(1000000)
    def newOrder(): (Long, Double, Double) = {
      val bid = rnd.nextBoolean()
      val px = math.round((if (bid) 9000 + rnd.nextInt(1000) else 10000 + rnd.nextInt(1000)) * 10.0) / 10.0 + rnd.nextInt(10) / 10.0
      val amt = (1 + rnd.nextInt(5000)) / 1000.0 * (if (bid) 1 else -1)
      val id = nextId
      nextId += 1 + rnd.nextInt(5)
      live(id) = (px, amt)
      (id, px, amt)
    }
    val snap = (1 to 50).map(_ => newOrder())
      .map { case (i, p, a) => s"[$i, $p, $a]" }.mkString("[", ", ", "]")
    val truth = mutable.ArrayBuffer(s"[$channel, $snap, $rtsMs]")
    while (truth.size < nFrames) {
      rtsMs += 1 + rnd.nextInt(2000)
      val episode = 1 + rnd.nextInt(4)
      var k = 0
      while (k < episode && truth.size < nFrames) {
        val r = rnd.nextDouble()
        val msg =
          if (r < 0.05) s"""[$channel, "hb", $rtsMs]"""
          else if (r < 0.45 || live.size < 20) {
            val (i, p, a) = newOrder(); s"[$channel, [$i, $p, $a], $rtsMs]"
          } else {
            val id = live.keys.drop(rnd.nextInt(live.size)).head
            val (p, a) = live(id)
            if (r < 0.75) {
              live.remove(id); s"[$channel, [$id, 0, ${if (a > 0) 1 else -1}], $rtsMs]"
            } else {
              val na = math.round(a * (0.2 + rnd.nextDouble() * 0.7) * 1000) / 1000.0
              val nz = if (na == 0.0) a else na
              live(id) = (p, nz); s"[$channel, [$id, $p, $nz], $rtsMs]"
            }
          }
        truth += msg
        k += 1
      }
    }
    val wire = truth.toArray.clone()
    var i = 1
    while (i + 1 < wire.length) {
      if (rnd.nextDouble() < 0.05 && rtsOf(wire(i)) != rtsOf(wire(i + 1))) {
        val t = wire(i); wire(i) = wire(i + 1); wire(i + 1) = t
        i += 2
      } else i += 1
    }
    (truth.toArray, wire)
  }

  /** Exchange timestamp (µs) of a frame: its last JSON element, in ms. */
  def rtsOf(frame: String): Long =
    frame.substring(frame.lastIndexOf(',') + 1, frame.length - 1).trim.toLong * 1000L

  final case class Doc(doc_id: Long, text: String)
  final case class Vec(vec_id: Long, embedding: Array[Float], label: Int)

  /** Planted structure of a generated corpus: pairs (original, copy). */
  final case class Corpus(docs: Array[Doc], exactDups: Seq[(Long, Long)],
      nearDups: Seq[(Long, Long)], vecs: Array[Vec])

  private val Stop = Array("the", "and", "of", "to", "a", "in", "is", "it", "for", "on")
  private val Vocab: Array[String] = {
    val syl = Array("ka", "lo", "mi", "ter", "son", "bra", "vel", "dun", "rik", "pal",
      "quo", "sen", "tor", "zim", "har", "nel")
    (for (a <- syl; b <- syl) yield a + b).take(240)
  }

  /** Documents 0 until `benchMax` are the held-out benchmark set. The
    * corpus gets planted exact duplicates, near duplicates (a few words
    * replaced) and documents that quote a benchmark passage. */
  def corpus(seed: Long, nDocs: Int, benchMax: Int, nVecs: Int, dim: Int): Corpus = {
    val rnd = new Random(seed)
    def text(n: Int): Array[String] = Array.fill(n) {
      if (rnd.nextDouble() < 0.3) Stop(rnd.nextInt(Stop.length))
      else Vocab(rnd.nextInt(Vocab.length))
    }
    val words = mutable.ArrayBuffer.empty[Array[String]]
    val exact = mutable.ArrayBuffer.empty[(Long, Long)]
    val near = mutable.ArrayBuffer.empty[(Long, Long)]
    for (i <- 0 until nDocs) {
      val r = rnd.nextDouble()
      val w =
        if (i < benchMax + 20) text(40 + rnd.nextInt(80))
        else if (r < 0.06) {
          val o = benchMax + rnd.nextInt(i - benchMax); exact += ((o.toLong, i.toLong)); words(o).clone()
        } else if (r < 0.12) {
          val o = benchMax + rnd.nextInt(i - benchMax); near += ((o.toLong, i.toLong))
          val c = words(o).clone()
          c(rnd.nextInt(c.length)) = Vocab(rnd.nextInt(Vocab.length))
          c
        } else if (r < 0.16) {
          val b = words(rnd.nextInt(benchMax))
          val t = text(40 + rnd.nextInt(80))
          val at = rnd.nextInt(t.length - 12)
          Array.copy(b, 0, t, at, math.min(12, b.length))
          t
        } else text(40 + rnd.nextInt(80))
      words += w
    }
    val docs = words.zipWithIndex.map { case (w, i) => Doc(i.toLong, w.mkString(" ")) }.toArray

    val centres = Array.fill(24)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val vecs = mutable.ArrayBuffer.empty[Vec]
    for (i <- 0 until nVecs) {
      if (i > 20 && rnd.nextDouble() < 0.08) {
        val o = rnd.nextInt(i)
        vecs += Vec(i, vecs(o).embedding.map(x => x + (rnd.nextGaussian() * 0.01).toFloat), vecs(o).label)
      } else {
        val l = rnd.nextInt(centres.length)
        vecs += Vec(i, centres(l).map(x => x + rnd.nextGaussian().toFloat * 0.8f), l)
      }
    }
    Corpus(docs, exact.toSeq, near.toSeq, vecs.toArray)
  }

  /** SHA-256 over the rows' printed form, hex. */
  def digest(rows: Iterator[Any]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach { r =>
      val s = r match {
        case v: Vec => s"${v.vec_id}|${v.embedding.mkString(",")}|${v.label}"
        case other => other.toString
      }
      md.update(s.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
