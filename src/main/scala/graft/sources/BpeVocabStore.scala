package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.operators.TextAnalysis

/** PERSISTED BPE vocabulary — the train-once/encode-per-delta production
  * shape of [[graft.operators.TextAnalysis.bpeEncode]] (which replays
  * the full iterative merge training inside every run so the oracle can
  * replay it). A tokenizer is trained exactly once, ever: the learned
  * merge table IS the vocabulary artifact every later ingest is encoded
  * under, and retraining mid-corpus would silently change the token ids
  * of everything already encoded — the one invariant a training-data
  * pipeline cannot lose. Encoding a delta under the frozen merges is
  * MAP-ONLY (one codegen'd O(n) [[GraftFunctions.bpeMergePair]] pass per
  * merge rule, applied in learned order), so per-ingest cost tracks the
  * DELTA: zero pair-count shuffles, zero training passes, no dependence
  * on the size of the corpus the rules were learned from.
  *
  * The merge table is driver metadata by construction (`rounds` rows —
  * the [[PqIndex]] codebook scale), persisted at `dir/merges` and
  * committed as the store's one [[GenerationLedger]] generation only
  * after the parquet is fully written: a crashed fit is invisible to
  * readers, and refitting on a drifted corpus is a REBUILD into a fresh
  * root, never an in-place mutation (the [[IvfIndex]]/[[PqIndex]]
  * frozen-artifact discipline).
  */
final class BpeVocabStore(spark: SparkSession, dir: String,
                          rounds: Int = 3) {

  private val ledger = new GenerationLedger(spark, dir, "bpe_vocab", "fit", "base")
  private def mergesDir = s"$dir/merges"
  // the fitted round count IS the vocabulary version: encoding under a
  // different rounds value than the artifact was trained with silently
  // changes token ids — fail at open (FAISS-header rule)
  ledger.validate(Map("rounds" -> rounds))

  /** True once a fit has committed. */
  def committed: Boolean = ledger.committedGen >= 0

  /** Learn `rounds` merges on the training corpus and freeze them —
    * idempotent. Production bounds `docs` by corpus sampling first
    * ([[graft.operators.Sampling]] — the BPE bound-the-corpus rule);
    * nothing here depends on the trainer seeing every document.
    */
  def fit(docs: DataFrame): Unit =
    if (!committed)
      ledger.advance(None, _ => StoreParams.stamp(Map("rounds" -> rounds))) { _ =>
        TextAnalysis.bpeMergeRounds(docs, rounds)
          .coalesce(1).write.mode("overwrite").parquet(mergesDir)
      }

  /** The frozen merge table — `rounds` rows of
    * (round, pair_a, pair_b, n_pair, corpus_tokens_after).
    */
  def mergesDf: DataFrame = {
    require(committed, "the vocab store is empty: fit before encoding")
    spark.read.parquet(mergesDir)
  }

  /** The frozen merges in learned order, collected as O(rounds) driver
    * metadata — the codebook read, never data-sized. Training may have
    * exhausted the corpus early, so the list can be shorter than
    * `rounds`; encode folds whatever was learned.
    */
  private def mergeRules: Seq[(String, String)] =
    mergesDf.select(col("round"), col("pair_a"), col("pair_b"))
      .collect().toSeq.sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2)))

  /** Encode a delta under the frozen vocabulary: (doc_id, toks) with
    * merged tokens space-joined — bit-identical to what
    * [[TextAnalysis.bpeEncode]]'s final generation emits for these
    * documents, because per-document rewriting under a fixed merge list
    * is independent across documents. Docs with fewer than two tokens
    * never enter training and are likewise absent here (the
    * [[TextAnalysis.bpeEncode]] contract). One map-only pass per merge
    * rule; no shuffle anywhere.
    */
  def encode(delta: DataFrame): DataFrame = {
    val base = delta
      .select(col("doc_id"), GraftFunctions.tokens(lower(col("text"))).as("toks"))
      .where(size(col("toks")) >= 2)
    mergeRules.foldLeft(base) { case (df, (a, b)) =>
      df.select(col("doc_id"),
        GraftFunctions.bpeMergePair(col("toks"), a, b).as("toks"))
    }
  }
}
