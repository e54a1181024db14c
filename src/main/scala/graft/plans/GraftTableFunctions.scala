package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.PlanBridge

/** Kind of a table-function argument; every argument is a literal. */
sealed trait TvfArg

object TvfArg {
  /** A table name (string literal), resolved as the marker's child. */
  case object Rel extends TvfArg
  case object Integral extends TvfArg
  case object Numeric extends TvfArg
  case object Str extends TvfArg
}

/** A call's checked arguments in call order (index 0 is the first
  * argument, a table name), with its resolved relations. */
final class TvfCall(val spark: SparkSession, val rels: Seq[DataFrame],
    args: Seq[Any]) {
  def rel: DataFrame = rels.head
  lazy val api: graft.GraftApi = new graft.GraftApi(spark, rel)
  def has(i: Int): Boolean = i < args.length
  def long(i: Int): Long = args(i).asInstanceOf[Long]
  def long(i: Int, default: Long): Long = if (has(i)) long(i) else default
  def int(i: Int): Int = long(i).toInt
  def int(i: Int, default: Int): Int = if (has(i)) int(i) else default
  def dbl(i: Int): Double = args(i).asInstanceOf[Double]
  def dbl(i: Int, default: Double): Double = if (has(i)) dbl(i) else default
  def str(i: Int): String = args(i).asInstanceOf[String]
  def str(i: Int, default: String): String = if (has(i)) str(i) else default
}

/** One SQL table function: `usage` is the arity error message, `kinds`
  * gives the kind of each argument position, and `lower` builds the
  * function's plan from a resolved call. */
final class TvfDef(val name: String, params: String, val arities: Seq[Int],
    val kinds: Seq[TvfArg], val lower: TvfCall => DataFrame) {
  require(kinds.length == arities.max && kinds.head == TvfArg.Rel,
    s"$name: one kind per argument, the first a table name")

  def usage: String = s"$name takes $params"

  /** The table-function builder: arity and literal checks in call
    * order, then the marker over the named relations. */
  def parse(exprs: Seq[Expression]): LogicalPlan = {
    require(arities.contains(exprs.length), usage)
    val args: Seq[Any] = exprs.indices.map { i =>
      kinds(i) match {
        case TvfArg.Rel | TvfArg.Str => TvfArgs.strLit(exprs, i, name)
        case TvfArg.Integral => TvfArgs.longLit(exprs, i, name)
        case TvfArg.Numeric => TvfArgs.dblLit(exprs, i, name)
      }
    }
    UnresolvedGraftCall(this, args, args.indices
      .filter(kinds(_) == TvfArg.Rel).map(i => TvfArgs.rel(args(i).toString)))
  }

  override def toString: String = name
}

/** Parse-time marker of a table-function call over its one or two
  * relations; [[GraftCallResolution]] replaces it with the lowered plan. */
case class UnresolvedGraftCall(fn: TvfDef, args: Seq[Any],
    children: Seq[LogicalPlan]) extends LogicalPlan {
  override lazy val resolved: Boolean = false
  override def output: Seq[Attribute] = Nil
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[LogicalPlan]): LogicalPlan =
    copy(children = newChildren)
}

/** Analyzer rule (injected via `GraftExtensions.injectResolutionRule`):
  * applies an [[UnresolvedGraftCall]]'s lowering once its relations
  * are resolved. */
object GraftCallResolution extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case u: UnresolvedGraftCall if u.childrenResolved =>
        val spark = SparkSession.active
        PlanBridge.plan(u.fn.lower(new TvfCall(spark,
          u.children.map(PlanBridge.ofRows(spark, _)), u.args)))
    }
}

/** Shared literal-argument extraction for every injected table
  * function (`asof_join` and each [[TvfDef]] entry): one place for the
  * foldable/type/null validation and the dotted-name relation builder,
  * so a parsing fix reaches every TVF. */
private[plans] object TvfArgs {

  def strLit(exprs: Seq[Expression], i: Int, fn: String): String = {
    val e = exprs(i)
    require(e.foldable &&
      e.dataType == org.apache.spark.sql.types.StringType,
      s"$fn argument ${i + 1} must be a string literal")
    val v = e.eval(null)
    require(v != null, s"$fn argument ${i + 1} must not be null")
    v.toString
  }

  def longLit(exprs: Seq[Expression], i: Int, fn: String): Long = {
    val e = exprs(i)
    require(e.foldable && (e.dataType ==
      org.apache.spark.sql.types.LongType ||
      e.dataType == org.apache.spark.sql.types.IntegerType),
      s"$fn argument ${i + 1} must be an integral literal")
    val v = e.eval(null)
    require(v != null, s"$fn argument ${i + 1} must not be null")
    v.asInstanceOf[Number].longValue()
  }

  def rel(name: String): LogicalPlan =
    UnresolvedRelation(name.split('.').toSeq)

  def dblLit(exprs: Seq[Expression], i: Int, fn: String): Double = {
    val e = exprs(i)
    require(e.foldable, s"$fn argument ${i + 1} must be a numeric literal")
    val v = e.eval(null)
    require(v != null, s"$fn argument ${i + 1} must not be null")
    v match {
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case n: java.lang.Number => n.doubleValue()
      case other => throw new IllegalArgumentException(
        s"$fn argument ${i + 1} must be numeric, got $other")
    }
  }
}

/** SQL table-function surface: the reference's `get.*` entry points
  * (`db/get_schema.sql`), the grid and sequential operators and the
  * curation pipeline, reachable from plain SQL text:
  *
  * {{{
  *   SELECT * FROM depth('l3_view', 1000000, 2000000)
  *   SELECT * FROM spread('l3_view')
  *   SELECT * FROM hybrid('docs', 'emb', 5)
  * }}}
  *
  * Each function is ONE [[TvfDef]] entry of [[all]], which
  * `GraftExtensions` registers in one loop: its name, usage line,
  * accepted arities, the kind of each argument and its lowering to the
  * Scala call. [[TvfDef.parse]] checks a call's
  * literals against the entry and returns an [[UnresolvedGraftCall]]
  * marker over `UnresolvedRelation`s of the named tables; once they
  * resolve, [[GraftCallResolution]] applies the entry's lowering, which
  * builds the SAME plan the Scala `GraftApi` / `GridOps` / pipeline
  * method builds (macro expansion at resolution time — the proven
  * [[UnresolvedAsOfJoin]] mechanism). SQL users therefore get the
  * identical scalable physical shape: the sliced replay kernel, the
  * as-of carry, never a one-task window.
  *
  * Unlike `asof_join` (a reusable *operator* with its own logical
  * node), these are query macros: nothing downstream needs to pattern-
  * match on them, so expanding directly to the API plan is the whole
  * implementation.
  */
object GraftTableFunctions {
  import TvfArg._
  import graft.market.GridOps
  import graft.pipeline.{Search, TextPipeline, TrainingData, VectorOps}
  import graft.relational.CoreQueries

  /** The frequency grid the reference's `(start, end, frequency)`
    * argument triple denotes (`get._date_floor`/`_date_ceiling`,
    * `db/get_schema.sql:281-298`): every multiple of `freq` inside
    * `[start, end]`. */
  def gridInstants(start: Long, end: Long, freq: Long): Seq[Long] = {
    require(freq > 0, "freq_us must be positive")
    val first = Math.floorDiv(start + freq - 1, freq) * freq
    first.to(end, freq)
  }

  /** The grid of a call whose arguments 1–3 are start, end, freq. */
  private def grid(c: TvfCall): Seq[Long] =
    gridInstants(c.long(1), c.long(2), c.long(3))

  /** The session-memoized IVF training the vector TVFs share (the TVF
    * idiom recomputes in-query; training is the session memo). */
  private def cents(df: DataFrame) = Some(VectorOps.ivfTrainCached(df))

  private def tvf(name: String, params: String, arities: Seq[Int],
      kinds: TvfArg*)(lower: TvfCall => DataFrame): TvfDef =
    new TvfDef(name, params, arities, kinds, lower)

  val all: Seq[TvfDef] = Seq(
    // GraftApi.depth; the optional 4th argument is a precision tier
    // ('r0'|'p0'..'p4', the reference's get.depth precision parameter)
    tvf("depth", "(level3_table, start_us, end_us[, precision])",
        Seq(3, 4), Rel, Integral, Integral, Str) { c =>
      if (c.has(3)) c.api.depth(c.long(1), c.long(2), c.str(3))
      else c.api.depth(c.long(1), c.long(2))
    },
    // GraftApi.spread, or spreadResampled when the optional grid
    // frequency (the reference's p_frequency) is given
    tvf("spread", "(level3_table[, freq_us])", 1 to 2, Rel, Integral) { c =>
      if (c.has(1)) c.api.spreadResampled(c.long(1)) else c.api.spread()
    },
    // GraftApi.events; the optional 4th argument is the reference's
    // p_frequency (db/get_schema.sql:307,339-341): the prevailing spread
    // becomes the grid-resampled L1 stream
    tvf("events", "(level3_table, start_us, end_us[, freq_us])",
        Seq(3, 4), Rel, Integral, Integral, Integral) { c =>
      if (c.has(3)) c.api.events(c.long(1), c.long(2),
        frequencyMicros = Some(c.long(3)))
      else c.api.events(c.long(1), c.long(2))
    },
    // the inferred/matched trades
    tvf("trades", "(level3_table)", Seq(1), Rel)(_.api.trades()),
    // liquidity, bps, levels
    tvf("order_book", "(level3_table, at_us)", Seq(2), Rel, Integral) { c =>
      c.api.orderBook(c.long(1))
    },
    // the reference get.queues surface (db/get_schema.sql:623-630: same
    // parameter list, minus pair/exchange which our level3 frame carries
    // as columns); tick_type is 'ABSOLUTE' (default) or 'LOGRELATIVE'
    tvf("queues", "(level3_table, start_us, end_us, freq_us, " +
        "tick_size, first_tick, last_tick[, tick_type])", Seq(7, 8),
        Rel, Integral, Integral, Integral, Numeric, Integral, Integral,
        Str) { c =>
      val firstTick = c.int(5)
      val nTicks = c.int(6) - firstTick + 1
      c.str(7, "ABSOLUTE").toUpperCase match {
        case "ABSOLUTE" =>
          GridOps.queues(c.rel, grid(c), c.dbl(4), firstTick, nTicks)
        case "LOGRELATIVE" =>
          GridOps.queuesLogRelative(c.rel, grid(c), c.dbl(4), firstTick, nTicks)
        case other => throw new IllegalArgumentException(
          s"queues tick_type must be ABSOLUTE or LOGRELATIVE, got $other")
      }
    },
    // the reference get.depth_summary surface (db/get_schema.sql:281-298)
    tvf("depth_summary", "(level3_table, start_us, end_us, freq_us" +
        "[, bps_step, max_bps])", Seq(4, 6),
        Rel, Integral, Integral, Integral, Integral, Integral) { c =>
      GridOps.depthSummary(c.rel, grid(c), c.int(4, 25), c.int(5, 500))
    },
    // the SRF's own result shape (ts, bid.price, ask.price, b[], a[]):
    // one row per (pair, instant), dense per-bucket volume arrays
    tvf("queues_wide", "(level3_table, start_us, end_us, freq_us, " +
        "tick_size, n_ticks)", Seq(6),
        Rel, Integral, Integral, Integral, Numeric, Integral) { c =>
      c.api.queuesWide(grid(c), c.dbl(4), c.int(5))
    },
    // the client's depth.resample regridding over the frequency grid
    tvf("depth_resample", "(level3_table, start_us, end_us, freq_us, " +
        "tick_size)", Seq(5), Rel, Integral, Integral, Integral,
        Numeric) { c =>
      GridOps.depthResample(c.rel, grid(c), c.dbl(4))
    },
    // 0 = best quotes, the whole-book sentinel = full-book VWAP
    tvf("trading_period", "(level3_table, volume_units)", Seq(2),
        Rel, Integral) { c =>
      c.api.tradingPeriod(c.long(1))
    },
    // commission and per-second interest as numeric literals
    tvf("trading_strategy", "(level3_table, phi, rho)", Seq(3),
        Rel, Numeric, Numeric) { c =>
      c.api.tradingStrategy(c.dbl(1), c.dbl(2))
    },
    tvf("draws", "(level3_table, epsilon)", Seq(2), Rel, Numeric) { c =>
      c.api.epsilonDrawUpDowns(c.dbl(1))
    },
    // GraftApi.intervals (the reference p_min_duration)
    tvf("events_intervals", "(level3_table[, min_duration_us])", 1 to 2,
        Rel, Integral) { c =>
      c.api.intervals(c.long(1, 0L))
    },
    // per-era feed statistics
    tvf("summary", "(level3_table)", Seq(1), Rel)(_.api.summary()),
    // flat event projection
    tvf("export", "(level3_table)", Seq(1), Rel)(_.api.export()),
    // the plotDataAvailability data frame
    tvf("plot_avail", "(level3_table[, min_duration_us])", 1 to 2,
        Rel, Integral) { c =>
      c.api.dataAvailabilityGrid(c.long(1, 0L))
    },
    // the plotPositionTrellis data frame, log-relative
    tvf("plot_trellis", "(level3_table[, phi, rho[, volume_units]])",
        Seq(1, 3, 4), Rel, Numeric, Numeric, Integral) { c =>
      c.api.positionTrellis(phi = c.dbl(1, 0.5), rho = c.dbl(2, 1e-6),
        volumeUnits = c.long(3, 50L))
    },
    // pipeline surface: the relation is a DOCUMENTS / embeddings /
    // events table here, not level3 — the marker is source-agnostic.
    // Keyword retrieval; with no query string the default probe set runs.
    tvf("bm25", "(docs_table[, k[, query_text]])", 1 to 3,
        Rel, Integral, Str) { c =>
      Search.bm25TopK(c.rel,
        if (c.has(2)) Seq(1L -> c.str(2)) else Search.Bm25Queries,
        c.int(1, 5))
    },
    // content-hash exact dedup report
    tvf("dedup_exact", "(docs_table)", Seq(1), Rel) { c =>
      TextPipeline.exactDedup(c.rel)
    },
    // inter-document duplicate n-gram coverage
    tvf("dup_ngrams", "(docs_table[, n])", 1 to 2, Rel, Integral) { c =>
      TextPipeline.interDocDupNgrams(c.rel, c.int(1, 5))
    },
    // per-document quality signals
    tvf("quality", "(docs_table)", Seq(1), Rel) { c =>
      TextPipeline.qualityScore(c.rel)
    },
    // per-source KL(source ‖ corpus) in nano units
    tvf("source_drift", "(docs_table)", Seq(1), Rel) { c =>
      TextPipeline.sourceDrift(c.rel)
    },
    // corpus-hot-chunk removal
    tvf("boilerplate", "(docs_table[, chunk_words[, max_df]])", 1 to 3,
        Rel, Integral, Integral) { c =>
      TextPipeline.boilerplateRemove(c.rel, c.int(1, 10), c.long(2, 1L))
    },
    // exact substring dedup report
    tvf("substring_dedup", "(docs_table[, min_words])", 1 to 2,
        Rel, Integral) { c =>
      TextPipeline.substringDedup(c.rel, c.int(1, 8))
    },
    // DSIR importance weights toward the target-language slice
    tvf("dsir", "(docs_table[, target_lang])", 1 to 2, Rel, Str) { c =>
      TextPipeline.dsirWeights(c.rel, targetLang = c.str(1, "en"))
    },
    // bigram-LM quality score
    tvf("lm_score", "(docs_table[, train_lang])", 1 to 2, Rel, Str) { c =>
      TextPipeline.lmScore(c.rel, trainLang = c.str(1, "en"))
    },
    // trained NB language classifier report
    tvf("nb_lang", "(docs_table)", Seq(1), Rel) { c =>
      TextPipeline.nbLangClassify(c.rel)
    },
    // top-k TF-IDF terms per document
    tvf("tfidf_terms", "(docs_table[, k])", 1 to 2, Rel, Integral) { c =>
      TextPipeline.tfidfTerms(c.rel, c.int(1, 3))
    },
    // Bloom-prefiltered benchmark decontamination report (the filter is
    // exact-verified, so the report equals `decontaminate`)
    tvf("decon_bloom", "(docs_table)", Seq(1), Rel) { c =>
      TextPipeline.decontaminateBloom(c.rel)
    },
    // deterministic near-dup audit sample with exact Jaccard
    tvf("dedup_audit", "(docs_table[, n])", 1 to 2, Rel, Integral) { c =>
      TextPipeline.dedupAudit(c.rel, c.int(1, 20))
    },
    // per-shard packing report
    tvf("pack_stats", "(docs_table[, capacity[, n_shards]])", 1 to 3,
        Rel, Integral, Integral) { c =>
      TrainingData.packStats(c.rel, c.spark, c.long(1, 256L), c.int(2, 16))
    },
    // count-min-sketch heavy hitters graded against exact counts
    tvf("cms_heavy", "(docs_table[, depth[, width[, topn]]])", 1 to 4,
        Rel, Integral, Integral, Integral) { c =>
      TextPipeline.cmsHeavyHitters(c.rel, c.int(1, 3), c.int(2, 512),
        c.int(3, 20))
    },
    // JL signed-random-projection report
    tvf("rproj", "(embeddings_table[, k])", 1 to 2, Rel, Integral) { c =>
      VectorOps.rprojReport(c.rel, c.int(1, 16))
    },
    // top collocations by nano PMI
    tvf("pmi_bigrams", "(docs_table[, min_count[, topn]])", 1 to 3,
        Rel, Integral, Integral) { c =>
      TextPipeline.pmiBigrams(c.rel, c.long(1, 5L), c.int(2, 20))
    },
    // banded-candidate precision/recall vs exact-Jaccard truth
    tvf("dedup_recall", "(docs_table[, sample_mod[, tau]])", 1 to 3,
        Rel, Integral, Numeric) { c =>
      TextPipeline.dedupRecall(c.rel, c.int(1, 2), c.dbl(2, 0.5))
    },
    // ordered conversion funnel
    tvf("funnel", "(events_table)", Seq(1), Rel) { c =>
      CoreQueries.funnelOf(c.rel.select(col("user_id"), col("event_type"),
        graft.Tables.tsMicros(col("ts")).as("t")))
    },
    // per-user gaps-and-islands session stats
    tvf("sessions", "(events_table)", Seq(1), Rel) { c =>
      CoreQueries.sessionizeOf(c.rel.select(col("user_id"), col("event_id"),
        graft.Tables.tsMicros(col("ts")).as("t")))
    },
    // weekly cohort retention
    tvf("retention", "(events_table)", Seq(1), Rel) { c =>
      CoreQueries.retentionOf(c.rel.select(col("user_id"),
        graft.Tables.tsMicros(col("ts")).as("t")))
    },
    // integer 3σ outlier screen
    tvf("anomaly", "(events_table)", Seq(1), Rel) { c =>
      CoreQueries.eventAnomaliesOf(c.rel)
    },
    // per-source quality quota
    tvf("source_cap", "(docs_table[, cap])", 1 to 2, Rel, Integral) { c =>
      TextPipeline.sourceCap(c.rel, c.int(1, 10))
    },
    // data-constrained token-budget allocation across sources
    tvf("epoch_plan",
        "(docs_table[, budget_num[, budget_den[, max_epochs]]])", 1 to 4,
        Rel, Integral, Integral, Integral) { c =>
      TrainingData.epochPlan(c.rel, c.int(1, 7), c.int(2, 4), c.int(3, 2))
    },
    // kNN-graph centrality
    tvf("pagerank", "(emb_table[, k[, iters]])", 1 to 3,
        Rel, Integral, Integral) { c =>
      VectorOps.pageRank(c.rel, c.int(1, 5), iters = c.int(2, 8),
        trainedCents = cents(c.rel))
    },
    // kNN-graph label propagation
    tvf("label_prop", "(emb_table[, k[, iters[, seed_mod]]])", 1 to 4,
        Rel, Integral, Integral, Integral) { c =>
      VectorOps.labelPropagate(c.rel, c.int(1, 5), iters = c.int(2, 3),
        seedMod = c.int(3, 10), trainedCents = cents(c.rel))
    },
    // exact integer Gram matrix
    tvf("gram", "(emb_table)", Seq(1), Rel) { c =>
      VectorOps.gramMatrix(c.rel)
    },
    // leading principal direction
    tvf("pca", "(emb_table[, iters])", 1 to 2, Rel, Integral) { c =>
      VectorOps.pcaLeading(c.rel, c.int(1, 12))
    },
    // second principal direction
    tvf("pca2", "(emb_table[, iters])", 1 to 2, Rel, Integral) { c =>
      VectorOps.pcaSecond(c.rel, c.int(1, 12))
    },
    // per-vector spectral projection
    tvf("pca_project", "(emb_table[, iters])", 1 to 2, Rel, Integral) { c =>
      VectorOps.pcaProject(c.rel, c.int(1, 12))
    },
    // top-cosine exemplars per k-means cell
    tvf("cluster_sample", "(emb_table[, per_cell])", 1 to 2,
        Rel, Integral) { c =>
      VectorOps.clusterSample(c.rel, perCell = c.int(1, 8),
        trainedCents = cents(c.rel))
    },
    // per-source length quantiles
    tvf("quantiles", "(docs_table)", Seq(1), Rel) { c =>
      TextPipeline.lengthQuantiles(c.rel)
    },
    // IVF-bounded kNN edges
    tvf("knn_graph", "(emb_table[, k[, n_probe]])", 1 to 3,
        Rel, Integral, Integral) { c =>
      VectorOps.knnGraph(c.rel, c.int(1, 5), trainedCents = cents(c.rel),
        nProbe = c.int(2, 1))
    },
    // duplicated ≥ l-char runs as merged char intervals
    tvf("char_span_dedup", "(docs_table[, l])", 1 to 2, Rel, Integral) { c =>
      TextPipeline.charSpanDedup(c.rel, c.int(1, 24))
    },
    // mutual-kNN connected components
    tvf("knn_clusters", "(emb_table[, k])", 1 to 2, Rel, Integral) { c =>
      VectorOps.knnClusters(c.rel, c.int(1, 5), trainedCents = cents(c.rel))
    },
    // cluster-then-prune semantic dedup
    tvf("semdedup", "(emb_table[, tau])", 1 to 2, Rel, Numeric) { c =>
      VectorOps.semDedup(c.rel, c.dbl(1, 0.45), trainedCents = cents(c.rel))
    },
    // mutual-kNN triangle counts and local clustering coefficients
    tvf("triangles", "(emb_table[, k])", 1 to 2, Rel, Integral) { c =>
      VectorOps.triangleStats(c.rel, c.int(1, 5), trainedCents = cents(c.rel))
    },
    // incremental ANN-index maintenance view: base (% 4 ≠ 0) = the
    // already-indexed corpus, batch (% 4 = 0) = the ingest, assigned
    // under the base-trained frozen centroids. The base assignment is
    // recomputed in-query here — the API row (`pipe_incr_ann`) is the
    // lake-serving shape that reads the stored postings
    tvf("incr_ann", "(emb_table)", Seq(1), Rel) { c =>
      val base = c.rel.filter(col("vec_id") % 4 =!= 0)
      val cs = VectorOps.ivfTrainCached(base)
      VectorOps.incrAnnAssign(c.rel.filter(col("vec_id") % 4 === 0), cs,
        VectorOps.ivfAssignments(base, cs))
    },
    // the append-index retrain gauge over the same % 4 base/batch split:
    // the batch's cell histogram against the base index's
    tvf("ann_drift", "(emb_table)", Seq(1), Rel) { c =>
      val base = c.rel.filter(col("vec_id") % 4 =!= 0)
      val cs = VectorOps.ivfTrainCached(base)
      VectorOps.ivfCellDrift(VectorOps.ivfAssignments(base, cs),
        VectorOps.ivfAssignments(c.rel.filter(col("vec_id") % 4 === 0), cs))
    },
    // semantic decontamination against the benchmark slice
    tvf("sem_decon", "(emb_table[, bench_max[, tau]])", 1 to 3,
        Rel, Integral, Numeric) { c =>
      VectorOps.semDecon(c.rel, c.long(1, 10L), c.dbl(2, 0.4))
    },
    // the IVF route of semantic decontamination, for a benchmark too
    // large to broadcast
    tvf("sem_decon_ivf", "(emb_table[, bench_max[, tau]])", 1 to 3,
        Rel, Integral, Numeric) { c =>
      VectorOps.semDeconIvf(c.rel, c.long(1, 10L), c.dbl(2, 0.4),
        trainedCents = cents(c.rel))
    },
    // reciprocal-rank-fused hybrid retrieval over the lexical (BM25) and
    // semantic (kNN) lists of two DISTINCT tables; n_probe widens the
    // semantic side's IVF probe (cell-boundary recall at ~n_probe× the
    // kNN pair cost). The API row (`pipe_hybrid_search`) is the
    // stored-index serving shape
    tvf("hybrid", "(docs_table, emb_table[, k[, n_probe]])", 2 to 4,
        Rel, Rel, Integral, Integral) { c =>
      Search.hybridSearch(c.rels(0), c.rels(1), k = c.int(2, 5),
        trainedCents = cents(c.rels(1)), nProbe = c.int(3, 1))
    },
    // per-source KMV distinct estimate
    tvf("source_distinct", "(docs_table[, k])", 1 to 2, Rel, Integral) { c =>
      TextPipeline.sourceDistinctEstimate(c.rel, c.int(1, 64))
    },
    // systematic PPS sampling
    tvf("weighted_sample", "(docs_table[, n[, salt]])", 1 to 3,
        Rel, Integral, Str) { c =>
      TrainingData.weightedSample(c.rel, c.int(1, 50), c.str(2, "sample0"))
    })
}
