package graft.streaming

import java.sql.DriverManager
import java.util.Properties
import org.apache.spark.sql.DataFrame
import graft.sources.{GenerationLedger, JdbcSink}

/** Exactly-once streaming delivery into a JDBC warehouse.
  *
  * Structured Streaming's `foreachBatch` gives at-least-once: after a
  * crash between sink write and checkpoint commit, the batch is
  * re-delivered and a plain append duplicates it — the streaming twin of
  * the reference's duplicate-reload failure mode. The standard fix is a
  * transactional batch ledger: rows and the (query, batchId) ledger entry
  * commit in ONE warehouse transaction, so a re-delivered batch sees its
  * ledger row and becomes a no-op.
  *
  * This sink targets AGGREGATE outputs (the engine's report shapes):
  * each micro-batch's result is a bounded set of group rows, collected on
  * the driver and inserted over a single connection/transaction. That
  * driver hop is what buys atomicity with the ledger — executor-parallel
  * JDBC writes each open their own transaction and cannot be atomic with
  * it. For data-sized streams, stage the batch to object storage and
  * COPY + ledger in one transaction instead
  * ([[graft.sources.JdbcSink.stagedBulkLoadExactlyOnce]] is that verb
  * for batch). Both run the one ledger transaction,
  * [[graft.sources.JdbcSink.ledgered]].
  */
object StreamSink {

  /** Ledger DDL, warehouse-idempotent form is caller-owned (H2/Derby
    * lack a common IF NOT EXISTS).
    */
  def ledgerDdl(ledgerTable: String): String =
    s"CREATE TABLE $ledgerTable (query_id VARCHAR(64), batch_id BIGINT, " +
      "PRIMARY KEY (query_id, batch_id))"

  /** A `foreachBatch` function delivering each micro-batch exactly once.
    *
    * `insertSql` is the parameterized INSERT for one output row (e.g.
    * `INSERT INTO t VALUES (?, ?)`); `bind` sets its parameters from a
    * Row. The batch's rows and the `(query_id, batch_id)` ledger entry
    * commit atomically ([[graft.sources.JdbcSink.ledgered]]). The batch
    * is collected only AFTER the ledger check: crash-redelivery (the case
    * this sink exists for) is a metadata no-op, not a recompute. Bounded:
    * aggregate output rows only (see above).
    */
  def exactlyOnceJdbc(url: String, insertSql: String, ledgerTable: String,
                      queryId: String, props: Properties = new Properties())
                     (bind: (java.sql.PreparedStatement, org.apache.spark.sql.Row) => Unit)
  : (DataFrame, Long) => Unit = { (batch: DataFrame, batchId: Long) =>
    val conn = DriverManager.getConnection(url, props)
    try JdbcSink.ledgered(conn, ledgerTable, Seq("query_id" -> queryId, "batch_id" -> batchId)) {
      val rows = batch.collect()
      val ins = conn.prepareStatement(insertSql)
      try {
        rows.foreach { r => bind(ins, r); ins.addBatch() }
        ins.executeBatch()
      } finally ins.close()
      rows.length
    } finally conn.close()
  }

  /** Exactly-once parquet delivery for a `foreachBatch` sink: each
    * micro-batch lands in a batchId-keyed subdirectory
    * (`outDir/batch-<id>`) appended through a batch-keyed
    * [[graft.sources.GenerationLedger]] (watermark slot `last_batch`):
    * crash-redelivery is a no-op for committed batches and an overwrite
    * for a batch whose write crashed mid-flight (its partial directory is
    * invisible to readers). A plain `mode("append")` parquet sink, by
    * contrast, DUPLICATES every redelivered row (r11 verdict #3:
    * `stream_lm_gate` shipped exactly that).
    *
    * `lineage` names the CHECKPOINT LIFETIME feeding this sink (use the
    * checkpoint location; stable across restarts of the same query, new
    * for a fresh checkpoint). It is stamped next to the watermark and
    * re-validated on every delivery — the [[graft.sources.StoreParams]]
    * FAISS-header rule for a sink (r12 advice): batchIds are only
    * monotonic WITHIN one checkpoint lineage, so an outDir that outlives
    * its checkpoint would otherwise treat every new batch below the old
    * watermark (fresh checkpoints restart at 0) as a redelivery and
    * silently DROP it. A mismatch refuses loudly; deliver a new lineage
    * into a fresh outDir instead. Wiping a checkpoint directory in place
    * and reusing its path breaks the contract — the path no longer names
    * one lifetime. Residual hole, by the grandfathering choice below: an
    * outDir written BEFORE this guard carries no stamp, so the first
    * new-lineage query to touch it still drops its sub-watermark batches
    * silently and then claims the dir — migrating pre-stamp sinks to
    * fresh outDirs is the operator's job.
    */
  def exactlyOnceParquet(outDir: String, batch: DataFrame, batchId: Long,
                         lineage: String): Unit = {
    require(lineage.nonEmpty, "lineage must name the checkpoint lifetime")
    val ledger = sinkLedger(batch.sparkSession, outDir)
    val h = GenerationLedger.fingerprint(lineage)
    // foreach, not get: pre-stamp artifacts stay writable and are stamped
    // on their next commit (the StoreParams validation discipline)
    ledger.get("lineage").foreach { prev =>
      require(prev == h,
        s"parquet sink at $outDir was written by a different checkpoint " +
          s"lineage (stamp $prev, caller ${h}); its batch-id watermark is " +
          "meaningless for a new checkpoint — new batches below it would be " +
          "silently dropped as redeliveries. Deliver into a fresh outDir.")
    }
    ledger.advance(Some(batchId), _ => Map("lineage" -> h))(id =>
      batch.write.mode("overwrite").parquet(ledger.genDir(id)))
  }

  private def sinkLedger(spark: org.apache.spark.sql.SparkSession, outDir: String) =
    new GenerationLedger(spark, outDir, "parquet_sink",
      GenerationLedger.LastBatch, "base", tailPrefix = "batch-")

  /** Every COMMITTED batch of an [[exactlyOnceParquet]] sink: the
    * compacted base (if [[compactParquet]] has run) plus batch
    * subdirectories committed after it, everything bounded by the
    * watermark — so a crashed batch's partial directory is never
    * visible, and neither is a crashed compact's orphan base. Requires
    * at least one committed batch (an unstarted sink has no schema to
    * offer).
    */
  def committedParquet(spark: org.apache.spark.sql.SparkSession,
                       outDir: String): DataFrame = {
    val ledger = sinkLedger(spark, outDir)
    val (base, last) = ledger.view
    require(last >= 0, s"no committed batches under $outDir")
    ledger.readAsOf(base, last)
  }

  /** COMPACTION for the parquet ledger sink: one directory per
    * micro-batch is what buys exactly-once (the batch boundary IS the
    * commit unit), but a long-lived query accumulates thousands of them
    * and every reader pays listing + per-fragment footers forever. Fold
    * the committed view into `base-<watermark>`; readers then touch one
    * consolidated dir plus only the batches committed since. Commit
    * order, crash safety and the single-writer rule (run it from the
    * delivering query's own process between micro-batches) are
    * [[graft.sources.GenerationLedger.compact]]'s; redelivery semantics
    * are untouched, and retirement of superseded dirs is opt-in —
    * in-flight readers own the grace period.
    */
  def compactParquet(spark: org.apache.spark.sql.SparkSession,
                     outDir: String, retireSuperseded: Boolean = false): Unit = {
    val ledger = sinkLedger(spark, outDir)
    // the fold reads the CAPTURED (base, w) view: re-deriving the
    // watermark at scan time would race a live query committing a batch
    // between the capture and the read, folding that batch into the base
    // while readers still list its dir (permanent double-read)
    ledger.compact(retireSuperseded) { (base, w) =>
      ledger.readAsOf(base, w).write.mode("overwrite").parquet(ledger.baseDir(w))
      Map.empty
    }
  }
}
