package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval at a layer boundary. Times are epoch microseconds;
  * `req` is the operation (request) the span belongs to. */
final case class Span(id: Long, parent: Long, name: String, req: Long,
    start: Long, end: Long) {
  def dur: Long = end - start
}

/** Per-task counters of one Spark job, summed. */
final class JobCounters {
  var tasks = 0L
  var runMs = 0L
  var schedDelayMs = 0L
  var bytesRead = 0L
  var recordsRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var peakMem = 0L
  val taskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
}

/** In-memory span recorder. Spans are opened around calls into the
  * library's layers from the client thread; Spark jobs and streaming
  * triggers arrive as child spans from the listeners below. Nothing is
  * written until [[dump]] at the end of the run.
  *
  * When `on` is false every `span` call only evaluates its body, so the
  * untraced run pays nothing but the flag check. */
object Trace {
  @volatile var on: Boolean = false
  private var sc: SparkContext = _
  private var nextId = 1L
  private val stack = mutable.Stack.empty[Long]
  private var curReq = 0L
  // epoch µs = nanoTime/1000 + offset, so client spans and listener
  // event times (epoch ms) share one clock
  private val offsetUs =
    System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  def nowUs: Long = System.nanoTime() / 1000L + offsetUs

  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  /** Spark job id → (request, parent span). */
  val jobOwner = new ConcurrentHashMap[Int, (Long, Long)]()
  val jobCounters = new ConcurrentHashMap[Int, JobCounters]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  /** Every streaming progress report, in arrival order; the reports of
    * traced operations are picked by time in the per-layer summary,
    * since they arrive on the listener bus after the trigger ended. */
  val progress: mutable.ArrayBuffer[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    mutable.ArrayBuffer.empty

  def install(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(JobListener)
    spark.streams.addListener(TriggerListener)
  }

  def currentReq: Long = curReq

  private def newId(): Long = synchronized { val i = nextId; nextId += 1; i }

  /** A root span for one operation: its id is the request id, and Spark
    * jobs started inside it are tagged with it through the job group. */
  def request[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = newId()
      curReq = id
      sc.setJobGroup(s"req-$id", name, interruptOnCancel = false)
      try timed(id, 0L, name, body)
      finally { sc.clearJobGroup(); curReq = 0L }
    }

  /** A child span around one call into a layer. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else timed(newId(), if (stack.isEmpty) 0L else stack.top, name, body)

  private def timed[T](id: Long, parent: Long, name: String, body: => T): T = {
    stack.push(id)
    sc.setLocalProperty("perfbench.span", id.toString)
    val s = nowUs
    try body
    finally {
      val e = nowUs
      stack.pop()
      sc.setLocalProperty("perfbench.span",
        if (stack.isEmpty) null else stack.top.toString)
      spans.synchronized { spans += Span(id, parent, name, curReq, s, e) }
    }
  }

  /** Wait until the listener buses have delivered every event posted so
    * far, so the job spans of the last request are present. */
  def drain(): Unit = if (sc != null) org.apache.spark.PerfbenchBus.drain(sc)

  /** Spark jobs become child spans of the span that submitted them. */
  private object JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty("perfbench.span")))
      val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      (span, group) match {
        case (Some(s), Some(g)) if g.startsWith("req-") =>
          jobOwner.put(e.jobId, (g.stripPrefix("req-").toLong, s.toLong))
          jobCounters.put(e.jobId, new JobCounters)
          jobStart.put(e.jobId, e.time * 1000L)
          e.stageIds.foreach(st => stageJob.put(st, e.jobId))
        case _ =>
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobOwner.get(e.jobId)).foreach { case (req, parent) =>
        spans.synchronized {
          spans += Span(newId(), parent, "spark.job", req,
            jobStart.get(e.jobId), e.time * 1000L)
        }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = if (!stageJob.containsKey(e.stageId)) null
        else jobCounters.get(stageJob.get(e.stageId))
      val m = e.taskMetrics
      if (c != null && m != null) c.synchronized {
        val info = e.taskInfo
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime)
        c.bytesRead += m.inputMetrics.bytesRead
        c.recordsRead += m.inputMetrics.recordsRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
        c.taskMs += m.executorRunTime
      }
    }
  }

  /** Streaming triggers arrive as progress reports. */
  private object TriggerListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized { progress += e.progress }
  }

  /** Self time of every span: its duration minus the part of it that
    * its child layer spans cover. Spark jobs and streaming triggers are
    * the work a layer call itself caused, so they stay in its time. */
  def selfTimes(): Map[Long, Long] = {
    val all = spans.synchronized(spans.toVector)
    val kids = all.filter(k => k.name != "spark.job" && k.name != "streaming.trigger")
      .groupBy(_.parent)
    all.map { s =>
      val ivs = kids.getOrElse(s.id, Vector.empty)
        .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curE) { covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      covered += curE - curS
      s.id -> math.max(0L, s.dur - covered)
    }.toMap
  }

  /** Counters of every job a request ran. */
  def countersOf(req: Long): Seq[JobCounters] =
    jobOwner.asScala.collect { case (j, (r, _)) if r == req => jobCounters.get(j) }
      .toSeq

  /** Write all spans as CSV (id, parent, name, req, start_us, end_us,
    * self_us). */
  def dump(path: java.nio.file.Path): Unit = {
    val self = selfTimes()
    val lines = spans.synchronized(spans.toVector).map { s =>
      s"${s.id},${s.parent},${s.name},${s.req},${s.start},${s.end},${self(s.id)}"
    }
    java.nio.file.Files.write(path,
      ("id,parent,name,req,start_us,end_us,self_us" +: lines).asJava)
  }
}
