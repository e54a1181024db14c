package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{TextPipeline, VectorOps}

/** Training-data curation: a seeded corpus with planted exact
  * duplicates, near duplicates and benchmark quotes goes through
  * `TextPipeline.curateFull`; seeded embeddings with planted near
  * duplicates go through `VectorOps.nearDupPairs` and `semDedup`. No
  * planted exact duplicate may survive curation. */
final class Curate(spark: SparkSession, val nDocs: Int, val nVecs: Int) {
  import spark.implicits._

  val benchMax = 10
  val dim = 32

  private var corpus: Inputs.Corpus = _
  private var docs: DataFrame = _
  private var emb: DataFrame = _

  /** Generate the corpus; returns the input digests. */
  def setup(seed: Long): Map[String, String] = {
    corpus = Inputs.corpus(seed, nDocs, benchMax, nVecs, dim)
    docs = corpus.docs.toSeq.toDF().localCheckpoint(true)
    emb = corpus.vecs.toSeq.toDF().localCheckpoint(true)
    Map("documents" -> Inputs.digest(corpus.docs.iterator),
      "embeddings" -> Inputs.digest(corpus.vecs.iterator))
  }

  /** The curation operations, in order, as check group `g`. */
  def ops: Seq[(OpLog, Int) => Unit] = Seq(
    (log, g) => log.op("pipeline.curate", g) {
      val kept = Trace.span("pipeline.curate")(
        TextPipeline.curateFull(docs, benchMax).select("doc_id").as[Long].collect().toSet)
      (nDocs.toLong, corpus.exactDups.forall { case (a, b) => !(kept(a) && kept(b)) })
    },
    (log, g) => log.op("pipeline.vector_neardup", g) {
      Trace.span("pipeline.vector_neardup")(VectorOps.nearDupPairs(emb).collect())
      (nVecs.toLong, true)
    },
    (log, g) => log.op("pipeline.semdedup", g) {
      Trace.span("pipeline.semdedup")(VectorOps.semDedup(emb).collect())
      (nVecs.toLong, true)
    })

  /** Traced run only, outside any timed operation: MinHash candidate
    * pairs, and the share of them that are planted duplicates (useful
    * work over attempted). */
  def candidates(): Unit = {
    Trace.on = true
    val planted = (corpus.exactDups ++ corpus.nearDups)
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val cand = Trace.span("pipeline.minhash")(TextPipeline.minhashCandidates(docs)
      .select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .as[(Long, Long)].collect())
    Layer.sample("pipeline.minhash_candidates", cand.length)
    Layer.sample("pipeline.near_dup_confirmed_frac",
      if (cand.isEmpty) 0.0 else cand.count(c => planted(c)).toDouble / cand.length)
    Trace.on = false
  }
}
