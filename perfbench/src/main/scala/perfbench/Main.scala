package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`.
  * Prints input sizes and digests, a detail line, and as its last line
  * the result object. `--trace 0` reports the end-to-end metrics,
  * `--trace 1` the per-layer metrics and the tracing overhead.
  * `--workload train` only sets up and warms up both workloads, for
  * the class-data archive, and prints nothing. */
object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val SetupRounds = 3

  val ApiOps: Seq[String] = Seq("orderBook", "spreadAt", "startingDepth",
    "depthSummary", "depth", "cachedDepth", "events", "spread", "trades",
    "tradingPeriod", "tradingStrategy", "epsilonDrawUpDowns")
  private val ReplayOps = Set("api.depth", "api.events", "api.spread",
    "api.trades", "api.tradingPeriod", "api.tradingStrategy",
    "api.epsilonDrawUpDowns")

  val PerLayer: Seq[(String, String)] = Seq(
    "sources.capture_ms" -> "ms", "sources.parse_ms" -> "ms",
    "sources.frames_in" -> "count", "sources.dropped_frac" -> "fraction",
    "sources.reorder_backlog_max" -> "count",
    "market.level3.build_ms" -> "ms", "market.level3.rows_out" -> "count",
    "market.level3.carry_rows" -> "count",
    "storage.append_ms" -> "ms", "storage.compact_ms" -> "ms",
    "storage.bytes_written" -> "bytes", "storage.files_per_partition" -> "count",
    "storage.bytes_per_event" -> "bytes",
    "storage.bytes_read_per_req" -> "bytes",
    "storage.rows_read_per_row_returned" -> "ratio") ++
    ApiOps.map(o => s"api.$o.p50_ms" -> "ms") ++ Seq(
    "api.plan_ms" -> "ms", "api.exec_ms" -> "ms",
    "api.jobs_per_req" -> "count", "api.tasks_per_req" -> "count",
    "api.cache.gap_loads_per_req" -> "count", "api.cache.covered_frac" -> "fraction",
    "market.replay.task_skew" -> "ratio", "market.replay.shuffle_bytes" -> "bytes",
    "sequential.strategy_ms" -> "ms", "sequential.draws_ms" -> "ms",
    "plans.sql_analyze_ms" -> "ms",
    "streaming.trigger_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.state_commit_ms" -> "ms",
    "streaming.state_rows" -> "count", "streaming.state_memory_bytes" -> "bytes",
    "pipeline.curate_ms" -> "ms", "pipeline.minhash_candidates" -> "count",
    "pipeline.near_dup_confirmed_frac" -> "fraction",
    "pipeline.vector_neardup_ms" -> "ms", "pipeline.semdedup_ms" -> "ms",
    "spark.tasks" -> "count", "spark.scheduler_delay_ms" -> "ms",
    "spark.executor_run_ms" -> "ms", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.peak_exec_mem_bytes" -> "bytes",
    "jvm.gc_ms" -> "ms", "trace.overhead_frac" -> "fraction",
    "trace.spans_per_op" -> "count")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val traced = opts("trace") == "1"
    val ctx = Ctx(opts("seed").toLong, opts("seconds").toInt,
      java.nio.file.Paths.get(opts("work")), traced)
    // two cores leave the rest of a small shared machine to the JVM's
    // compiler and collector threads; the workloads, whose operations
    // are a few small Spark jobs each, ran no faster on four
    val cores = math.min(Runtime.getRuntime.availableProcessors(), 2)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.local.dir", ctx.dir("spark-local"))
      .config("spark.sql.warehouse.dir", ctx.dir("warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (name == "train") {
      // load what both workloads use, for the class-data archive the
      // JVM writes at exit; nothing is measured
      Seq(new Ingest(spark), new Analyst(spark)).foreach { w =>
        w.setup(ctx)
        w.warmup(ctx, new OpLog(false))
      }
      spark.stop()
      return
    }
    val wl: Workload = name match {
      case "ingest" => new Ingest(spark)
      case "analyst" => new Analyst(spark)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (traced) Trace.install(spark)

    val log = new OpLog(traced)
    val phases = mutable.LinkedHashMap.empty[String, Double]
    var mark = System.nanoTime()
    def phase(n: String): Unit = {
      val now = System.nanoTime(); phases(n) = (now - mark) / 1e9; mark = now
    }
    phases("start_s") = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val setups = (1 to SetupRounds).map { _ =>
      Trace.on = traced
      val t0 = System.nanoTime()
      wl.setup(ctx)
      Trace.on = false
      (System.nanoTime() - t0) / 1e9
    }
    phase("setup_s")
    log.warming = true
    wl.warmup(ctx, log)
    log.warming = false
    phase("warmup_s")
    // a fixed number of whole units, so that every run measures the same
    // mix of operations; `--seconds` sets it through the unit's nominal
    // length on a 4-core machine
    val units = math.max(1, math.round(ctx.seconds.toDouble / wl.unitSeconds).toInt)
    (1 to units).foreach(_ => wl.step(ctx, log))
    phase("measure_s")

    val recs = log.records
    val lat = log.untraced.filter(r => wl.frequent(r.op)).flatMap(_.latencies)
    val n = lat.size
    val tail = Stats.tailPercentile(n)
    val metrics: Seq[(String, String, Double)] =
      if (!traced) {
        val items = recs.map(_.items).sum
        Seq(
          ("setup_s", "s", Stats.median(setups)),
          ("items_per_s", "1/s", items / (recs.map(_.ms).sum / 1000.0)),
          ("frequent_op_p50_ms", "ms", Stats.median(lat)),
          ("frequent_op_tail_ms", "ms", Stats.quantile(lat, tail / 100.0)),
          ("retained_heap_mb", "MB", retainedHeapMb()))
      } else {
        val vals = perLayer(log)
        val spans = java.nio.file.Paths.get(opts.getOrElse("spans",
          ctx.dir("spans.csv")))
        Trace.dump(spans)
        PerLayer.map { case (m, u) => (m, u, vals.getOrElse(m, 0.0)) }
      }
    phase("report_s")
    println(Json(Map("workload" -> name, "seed" -> ctx.seed, "sizes" -> wl.sizes,
      "input_sha256" -> wl.digests,
      "spark" -> Map("master" -> s"local[$cores]", "shuffle_partitions" -> cores),
      "clients" -> 1)))
    println(Json(Map("ops_attempted" -> log.attempted, "ops_failed" -> log.failed,
      "samples" -> n, "tail_percentile" -> tail, "units" -> units,
      "frequent_ms" -> log.untraced.filter(r => wl.frequent(r.op))
        .flatMap(r => r.latencies.map(x => Seq(r.op, math.round(x)))),
      "phases" -> phases,
      "op_p50_ms_by_op" -> recs.groupBy(_.op).map { case (k, v) => k -> Stats.median(v.map(_.ms)) },
      "errors" -> log.errors)))

    val correct = log.failed == 0 && log.errors.isEmpty
    println(Json(Map("correct" -> correct, "attempted" -> log.attempted,
      "failed" -> log.failed,
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (m, u, v) =>
        m -> Map("value" -> v, "unit" -> u) }: _*))))
    spark.stop()
    System.err.println(f"perfbench: stopped after ${(System.nanoTime() - mark) / 1e9}%.1f s")
  }

  /** Heap in use after full collections. Spark frees checkpointed
    * blocks asynchronously once their owners are collected, so collect,
    * give its cleaner time, and collect again. */
  private def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(150) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Per-layer values: the median of each metric's samples, from the
    * spans, the job counters of each traced request, the streaming
    * progress reports and the samples the workloads took. */
  private def perLayer(log: OpLog): Map[String, Double] = {
    Trace.drain()
    val spans = Trace.spans.toVector
    val roots = spans.filter(s => s.id == s.req)
    // streaming triggers that started inside a traced operation become
    // children of it; the others belong to untraced operations
    val triggers = Trace.progress.toVector.flatMap { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
      val end = start + p.durationMs.asScala.get("triggerExecution").map(_.longValue).getOrElse(0L) * 1000L
      roots.find(r => r.start <= start && start <= r.end).map { r =>
        Trace.spans += Span(-Trace.spans.size.toLong, r.id, "streaming.trigger", r.id, start, end)
        p
      }
    }
    val self = Trace.selfTimes()
    val s = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def add(k: String, v: Double): Unit = s.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    Layer.samples.foreach { case (k, vs) => vs.foreach(add(k, _)) }
    Trace.spans.toVector.foreach { sp =>
      if (sp.id == sp.req) add(s"${sp.name}.p50_ms", sp.dur / 1000.0)
      else if (sp.name != "spark.job" && sp.name != "streaming.trigger")
        add(s"${sp.name}_ms", self(sp.id) / 1000.0)
    }
    roots.foreach { r =>
      val cs = Trace.countersOf(r.req)
      add("spark.tasks", cs.map(_.tasks).sum)
      add("spark.scheduler_delay_ms", cs.map(_.schedDelayMs).sum)
      add("spark.executor_run_ms", cs.map(_.runMs).sum)
      add("spark.shuffle_write_bytes", cs.map(_.shuffleWrite).sum)
      add("spark.spill_bytes", cs.map(_.spill).sum)
      add("spark.peak_exec_mem_bytes", if (cs.isEmpty) 0 else cs.map(_.peakMem).max)
      if (r.name.startsWith("api.") || r.name.startsWith("sql.")) {
        add("api.jobs_per_req", cs.size)
        add("api.tasks_per_req", cs.map(_.tasks).sum)
      }
      if (Analyst.PointOps(r.name)) {
        add("storage.bytes_read_per_req", cs.map(_.bytesRead).sum)
        Layer.reqRows.get(r.req).filter(_ > 0).foreach(rows =>
          add("storage.rows_read_per_row_returned", cs.map(_.recordsRead).sum.toDouble / rows))
      }
      if (ReplayOps(r.name)) {
        val tasks = cs.flatMap(_.taskMs).map(_.toDouble)
        if (tasks.nonEmpty && Stats.median(tasks) > 0)
          add("market.replay.task_skew", tasks.max / Stats.median(tasks))
        add("market.replay.shuffle_bytes", cs.map(_.shuffleWrite).sum)
      }
    }
    triggers.filter(_.numInputRows > 0).foreach { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue.toDouble }
      add("streaming.trigger_ms", d.getOrElse("triggerExecution", 0.0))
      add("streaming.add_batch_ms", d.getOrElse("addBatch", 0.0))
      add("streaming.query_planning_ms", d.getOrElse("queryPlanning", 0.0))
      add("streaming.state_commit_ms", p.stateOperators.map(_.commitTimeMs).sum.toDouble)
      add("streaming.state_rows", p.stateOperators.map(_.numRowsTotal).sum.toDouble)
      add("streaming.state_memory_bytes", p.stateOperators.map(_.memoryUsedBytes).sum.toDouble)
    }
    // overhead: traced against untraced latency of the same operations,
    // over the kinds that ran at least one full T U U T pattern
    val byOp = log.records.groupBy(_.op)
    var extra = 0.0
    var base = 0.0
    byOp.values.filter(_.size >= 4).foreach { rs =>
      val (t, u) = rs.partition(_.traced)
      if (t.nonEmpty && u.nonEmpty) {
        val mu = Stats.median(u.map(_.ms))
        extra += (Stats.median(t.map(_.ms)) - mu) * rs.size
        base += mu * rs.size
      }
    }
    if (base > 0) add("trace.overhead_frac", extra / base)
    val tracedOps = log.records.count(_.traced)
    if (tracedOps > 0) add("trace.spans_per_op", Trace.spans.size.toDouble / tracedOps)
    s.map { case (k, vs) => k -> Stats.median(vs.toSeq) }.toMap
  }
}
