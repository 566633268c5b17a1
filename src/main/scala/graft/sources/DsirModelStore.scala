package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Sampling

/** PERSISTED DSIR model — the fit-once/apply-per-delta production shape
  * of [[graft.operators.Sampling.dsirLogWeights]] (which refits the
  * B-row model inside every run so the oracle can replay training).
  * Production fits the hashed-n-gram importance model on the reference
  * corpus exactly once, ever; each later ingest broadcast-joins the
  * frozen B rows against its delta's features and scores/selects at
  * delta cost — the [[IvfIndex]]/[[PqIndex]] frozen-state discipline for
  * a B-row table instead of centroids or codebooks.
  *
  * The stored model is COMPLETE over all B buckets (unseen buckets carry
  * the smoothed zero-count log-ratio), so a genuinely novel delta scores
  * exactly — no delta⊆corpus feature precondition. Refitting on a
  * drifted reference corpus is a REBUILD into a fresh root, never an
  * in-place mutation. The fit is the store's one [[GenerationLedger]]
  * generation: its `fit` watermark commits only after the model parquet
  * is fully written, so a crashed fit is invisible to readers.
  */
final class DsirModelStore(spark: SparkSession, dir: String,
                           buckets: Int = 2048) {

  private val ledger = new GenerationLedger(spark, dir, "dsir_model", "fit", "base")
  private def modelDir = s"$dir/model"
  // the fitted bucket count is load-bearing: applying with a different B
  // re-hashes features past the stored rows and the join silently drops
  // them — reopening with a drifted value must fail, not mis-score
  ledger.validate(Map("buckets" -> buckets))

  /** True once a fit has committed. */
  def committed: Boolean = ledger.committedGen >= 0

  /** Fit on the reference corpus and freeze — idempotent. */
  def fit(docs: DataFrame, isTarget: Column): Unit = if (!committed) {
    ledger.advance(None, _ => StoreParams.stamp(Map("buckets" -> buckets))) { _ =>
      Sampling.dsirModel(docs, isTarget, buckets)
        .coalesce(1).write.mode("overwrite").parquet(modelDir)
    }
  }

  /** The frozen B-row (f, lrq) model — broadcast-sized by construction. */
  def modelDf: DataFrame = {
    require(committed, "the model store is empty: fit before applying")
    spark.read.parquet(modelDir)
  }

  /** Score a delta against the frozen model — delta-sized cost. */
  def applyTo(delta: DataFrame): DataFrame =
    Sampling.dsirApply(delta, modelDf, buckets)

  /** Gumbel-top-k selection over a delta against the frozen model —
    * identical sample to fit-then-select on the same delta
    * ([[Sampling.dsirSelectApplied]]).
    */
  def selectFrom(delta: DataFrame, k: Int): DataFrame =
    Sampling.dsirSelectApplied(delta, modelDf, buckets, k)
}
