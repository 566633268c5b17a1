package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.IncrementalAgg
import graft.sources.GenerationLedger

/** Streaming materialized view: per-key aggregate state maintained from a
  * stream, one merge per micro-batch — the streaming twin of the batch
  * [[graft.operators.IncrementalAgg]] + bookmark pattern. Each batch
  * costs O(batch + keys), never O(history); the raw stream is read
  * exactly once in total.
  *
  * Exactly-once without a warehouse: each applied batch writes the
  * merged state as an immutable generation `v<g>` through a
  * [[graft.sources.GenerationLedger]], which commits the generation and
  * the applied batch id in one rename AFTER the write. A crash before the
  * commit leaves the previous generation current and the redelivered
  * batch overwrites the orphan; a batch redelivered after the commit is
  * a no-op. Readers resolve the committed generation and only ever see a
  * fully written state. Generations older than the previous one are
  * retired after each commit (the previous stays for readers that
  * resolved it just before the commit).
  */
final class MaterializedAgg(stateDir: String, keyCols: Seq[String], valueCol: String) {

  private val ledger = new GenerationLedger(SparkSession.active, stateDir,
    "materialized_agg", "version", "base", tailPrefix = "v")

  /** (committed generation, last applied batch id), or None before the
    * first commit.
    */
  def currentPointer(): Option[(Long, Long)] =
    Some(ledger.committedGen).filter(_ >= 0)
      .map((_, ledger.get(GenerationLedger.LastBatch).get))

  /** The committed state (mergeable columns; see IncrementalAgg). */
  def current(spark: SparkSession): Option[DataFrame] =
    currentPointer().map { case (v, _) => spark.read.parquet(ledger.genDir(v)) }

  /** The read-time view with derived columns. */
  def view(spark: SparkSession): Option[DataFrame] =
    current(spark).map(IncrementalAgg.finish)

  /** `foreachBatch` function folding each micro-batch into the state. */
  def sink: (DataFrame, Long) => Unit = { (batch: DataFrame, batchId: Long) =>
    ledger.advance(Some(batchId)) { g =>
      val delta = IncrementalAgg.aggregate(batch, keyCols, valueCol)
      current(batch.sparkSession).fold(delta)(IncrementalAgg.merge(_, delta, keyCols))
        .write.mode("overwrite").parquet(ledger.genDir(g))
    }
    ledger.retireThrough(ledger.committedGen - 2)
  }
}
