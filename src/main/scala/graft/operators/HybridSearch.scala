package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid retrieval: Reciprocal Rank Fusion (Cormack et al., SIGIR 2009)
  * of a lexical arm (BM25 over the persisted inverted index) and a
  * vector arm (cosine top-k over the embedding corpus) — the standard
  * first-stage retriever of a RAG / retrieval-training pipeline, where
  * neither keyword match nor embedding similarity alone recalls what the
  * other finds.
  *
  * RRF is rank-only — `score(d) = Σ_arms 1 / (k0 + rank_arm(d))` — which
  * is exactly why it composes heterogeneous arms safely: BM25 scores and
  * cosines live on incomparable scales, but their RANKS fuse without
  * calibration. k0 = 60 is the published default (larger k0 flattens the
  * head; the constant damps any single arm's top rank from dominating).
  *
  * 100 TB shape: each arm is already top-k — k-row frames, driver-scale
  * metadata regardless of corpus size — so the fusion is a broadcast-able
  * k×k full outer equi-join; ALL data-sized work (pruned posting scans,
  * ANN cell probes) happens inside the arms, which is where the persisted
  * indexes already bound it. The fused ordering is deterministic across
  * engines: each arm's rank derives from its own deterministic
  * (score desc, doc_id) order, and the RRF sum adds the two reciprocal
  * terms in a fixed order (text + vector) before the 6-digit presentation
  * rounding, so ties page identically at 1000 executors.
  */
object HybridSearch {

  /** Rank a top-k arm: (doc_id, `rankName`) by (`score` desc, doc_id).
    * The input is a top-k list (k rows), so the unpartitioned window is
    * k-sized driver-scale work — never a corpus-wide single-partition
    * sort (the batch_padding anti-pattern this engine bans for
    * data-sized frames).
    */
  def rankArm(arm: DataFrame, score: Column, rankName: String): DataFrame =
    arm.select(col("doc_id"),
      row_number().over(Window.orderBy(score.desc, col("doc_id")))
        .as(rankName))

  /** One arm's RRF term 1 / (60 + rank), 0 when the arm missed. */
  private def contrib(r: Column): Column =
    coalesce(lit(1.0) / (lit(60) + r), lit(0.0))

  /** Fuse two ranked arms by RRF with the fixed k0 = 60. `text` carries
    * (doc_id, r_text), `vector` (doc_id, r_vec); emits the top `k` of
    * (doc_id, r_text, r_vec, rrf) — absent-arm ranks stay NULL (the
    * contribution is 0), the auditor-readable form.
    */
  def rrf2(text: DataFrame, vector: DataFrame, k: Int): DataFrame = {
    require(k >= 1)
    text.join(vector, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("r_text"), col("r_vec"),
        round(contrib(col("r_text")) + contrib(col("r_vec")), 6).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(k)
  }

  /** BATCH twin of [[rankArm]] (r15 verdict #7): rank each query's arm
    * independently — the window partitions on query_id, so a 10⁶-query
    * batch ranks in parallel with per-partition state bounded by one
    * query's k-row list, never the global single-partition sort the
    * unpartitioned window would demand at batch scale.
    */
  def rankArmBatch(arm: DataFrame, score: Column, rankName: String): DataFrame =
    arm.select(col("query_id"), col("doc_id"),
      row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(score.desc, col("doc_id"))).as(rankName))

  /** BATCH twin of [[rrf2]]: fuse per query. Both arms carry
    * (query_id, doc_id, rank); the fusion is a (query_id, doc_id)
    * full-outer equi-join — each query's fused candidate set is at most
    * the two arms' k rows, so the join and the per-query top-k window
    * shuffle O(|queries|·k) narrow rows on the query_id partitioning and
    * nothing is ever globally sorted or driver-collected. Same published
    * RRF arithmetic and fixed text+vector addition order as [[rrf2]],
    * so a batch of one query fuses identically to the single-query path.
    */
  def rrf2Batch(text: DataFrame, vector: DataFrame, k: Int): DataFrame = {
    require(k >= 1)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id"))
    text.join(vector, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"), col("r_text"), col("r_vec"),
        round(contrib(col("r_text")) + contrib(col("r_vec")), 6).as("rrf"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }
}
