package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.operators.TextAnalysis

/** PERSISTED bigram language model — the fit-once/score-per-delta
  * production shape of [[graft.operators.TextAnalysis.perplexity]]
  * (which refits the LM in-plan every run so the oracle can replay
  * training). A perplexity-style quality filter scores every ingest
  * against ONE reference model: fitting per batch would let the filter's
  * meaning drift with each delta, and at corpus scale the refit — a full
  * bigram aggregation over everything ever ingested — is exactly the
  * cost a per-ingest pipeline cannot pay.
  *
  * Persisted artifacts: the LM table (w1, w2, n, prob) at `dir/lm` — a
  * REAL distributed table (vocab²-bounded, never collected or assumed
  * broadcastable), the per-context totals (w1, tot) at `dir/ctx` for the
  * unseen-bigram backoff, and the vocabulary size V in a bookmark slot
  * (an O(1) scalar, the [[InvertedIndex]] corpus-stats idiom — a scorer
  * never scans the corpus to learn its size). The fit is the store's
  * one [[GenerationLedger]] generation: V and the `fit` watermark commit
  * in one rename only after both parquet roots are fully written;
  * refitting on a drifted corpus is a REBUILD into a fresh root, never
  * an in-place mutation.
  *
  * Scoring is COMPLETE over any delta ([[TextAnalysis.perplexityUnder]]):
  * seen bigrams score their exact MLE conditional — the fit-then-score
  * equality the oracle gates — and unseen ones back off to the +0.5
  * Laplace floor, so the persist-and-reuse path never silently drops a
  * novel ingest's bigrams.
  */
final class LmStore(spark: SparkSession, dir: String) {

  private val ledger = new GenerationLedger(spark, dir, "bigram_lm", "fit", "base")
  private def lmDir = s"$dir/lm"
  private def ctxDir = s"$dir/ctx"

  /** True once a fit has committed. */
  def committed: Boolean = ledger.committedGen >= 0

  /** Fit the MLE bigram LM on the reference corpus and freeze it —
    * idempotent. The vocabulary size (distinct lowercased tokens) is one
    * extra map-side-combined aggregation, paid once at fit time.
    */
  def fit(docs: DataFrame): Unit =
    if (!committed) {
      val vocab = (_: Long) => Map("vocab" ->
        docs.select(explode(GraftFunctions.tokens(lower(col("text")))).as("t"))
          .agg(count_distinct(col("t"))).head().getLong(0))
      ledger.advance(None, vocab) { _ =>
        TextAnalysis.lmTable(docs).write.mode("overwrite").parquet(lmDir)
        TextAnalysis.lmContextTotals(spark.read.parquet(lmDir))
          .write.mode("overwrite").parquet(ctxDir)
      }
    }

  /** The frozen LM table — (w1, w2, n, prob). */
  def lmDf: DataFrame = {
    require(committed, "the LM store is empty: fit before scoring")
    spark.read.parquet(lmDir)
  }

  /** The frozen per-context totals — (w1, tot). */
  def ctxDf: DataFrame = spark.read.parquet(ctxDir)

  /** Vocabulary size V — an O(1) committed scalar. */
  def vocabSize: Long = ledger.get("vocab").getOrElse(0L)

  /** Score a delta's pseudo-perplexity under the frozen LM —
    * delta-sized cost, complete over unseen bigrams.
    */
  def scoreDelta(delta: DataFrame): DataFrame =
    TextAnalysis.perplexityUnder(delta, lmDf, ctxDf, vocabSize)
}
