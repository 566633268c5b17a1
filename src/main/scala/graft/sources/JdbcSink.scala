package graft.sources

import java.nio.file.{Files, Paths}
import java.sql.{Connection, DriverManager}
import java.util.Properties
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SaveMode}

/** JDBC sink with idempotent "preactions" DDL — the reference's Redshift
  * sink re-expressed (SURVEY.md §2 S10, `glue_rds_to_redshift.py:83-93`).
  *
  * The reference stages to S3 and COPYs into Redshift after running a
  * `CREATE TABLE IF NOT EXISTS` preaction; the engine-level semantics are:
  * (1) run caller-supplied DDL on a plain JDBC connection (driver-side, one
  * statement batch), then (2) bulk-append the frame. Spark's JDBC writer
  * already does distributed batched inserts from executors — the 100 TB
  * path swaps step 2 for a staged bulk-load (write parquet to object store,
  * issue COPY) without changing this API.
  *
  * Fixes reference defects D7 (sink ignored its target parameter and
  * hardcoded one dbtable for both reports; preactions DDL had a syntax
  * error): here the target table is a real parameter and preactions are
  * caller-owned strings executed verbatim.
  */
object JdbcSink {

  /** Run `preactions` (e.g. CREATE TABLE IF NOT EXISTS ...) then append
    * `df` into `table` at `url`.
    */
  def writeWithPreactions(df: DataFrame, url: String, table: String,
                          preactions: Seq[String] = Nil,
                          props: Properties = new Properties()): Unit = {
    if (preactions.nonEmpty) withPreactions(url, props, preactions)(_ => ())
    df.write.mode(SaveMode.Append).jdbc(url, table, props)
  }

  /** The reference's actual sink shape (`glue_rds_to_redshift.py:87-91`):
    * stage the frame to object storage, then bulk-load it into the
    * warehouse with COPY-style SQL over the same JDBC connection that ran
    * the preactions.
    *
    * Flow: (1) distributed CSV write of `df` into `stagingDir` (at 100 TB
    * this is the only data-sized step and it is executor-parallel — the
    * JDBC connection never carries row data); (2) on ONE driver-side
    * connection: preactions (DDL, autocommit), then one `copySql(table,
    * partPath)` statement per staged part file inside a single
    * transaction — all-or-nothing load, exactly how Redshift COPY is
    * wrapped in production. `copySql` is caller-owned because the load
    * verb is warehouse-specific (Redshift `COPY ... FROM 's3://...'`,
    * Derby `SYSCS_UTIL.SYSCS_IMPORT_TABLE`, DuckDB `COPY ... FROM`);
    * the engine owns staging, ordering, and transactionality.
    *
    * Returns the number of part files loaded.
    */
  def stagedBulkLoad(df: DataFrame, url: String, table: String,
                     stagingDir: String,
                     copySql: (String, String) => String,
                     preactions: Seq[String] = Nil,
                     props: Properties = new Properties()): Int = {
    df.write.mode(SaveMode.Overwrite).csv(stagingDir)
    withPreactions(url, props, preactions)(conn =>
      transaction(conn)(copyParts(conn, table, stagingDir, copySql)))
  }

  /** Ledger DDL for [[stagedBulkLoadExactlyOnce]]; warehouse-idempotent
    * wrapping (IF NOT EXISTS) is caller-owned, like all preactions.
    */
  def loadLedgerDdl(ledgerTable: String): String =
    s"CREATE TABLE $ledgerTable (run_id VARCHAR(64) PRIMARY KEY)"

  /** [[stagedBulkLoad]] made idempotent under redelivery — the batch twin
    * of [[graft.streaming.StreamSink.exactlyOnceJdbc]], closing the
    * reference's signature failure mode: re-running the job without
    * bookmarks duplicates every row in the target
    * (`medium/transaction_by_subscription_report_messed.jpeg` — ids
    * 12004/12006/12008/12011 each loaded twice).
    *
    * Staging and the COPY statements run inside [[ledgered]], the one
    * warehouse-ledger transaction both exactly-once sinks share, keyed by
    * `runId` (e.g. the bookmark watermark of the extract). A re-delivered
    * run sees its ledger row and returns 0 WITHOUT re-staging —
    * redelivery is a metadata no-op, never a recompute. A failed staging
    * write or COPY rolls back and surfaces its own exception, leaving no
    * ledger row, so a retry under the same run id delivers.
    *
    * `preactions` (caller-idempotent DDL) run on every call, before the
    * ledger check — they must be safe under redelivery just as on the
    * reference's Redshift (`CREATE TABLE IF NOT EXISTS`).
    *
    * Returns the number of part files loaded (0 on a deduplicated
    * redelivery).
    */
  def stagedBulkLoadExactlyOnce(df: DataFrame, url: String, table: String,
                                stagingDir: String,
                                copySql: (String, String) => String,
                                runId: String,
                                ledgerTable: String = "load_ledger",
                                preactions: Seq[String] = Nil,
                                props: Properties = new Properties()): Int =
    withPreactions(url, props, preactions)(conn =>
      ledgered(conn, ledgerTable, Seq("run_id" -> runId)) {
        df.write.mode(SaveMode.Overwrite).csv(stagingDir)
        copyParts(conn, table, stagingDir, copySql)
      })

  /** The warehouse-ledger transaction of both exactly-once sinks
    * ([[stagedBulkLoadExactlyOnce]], key `run_id`;
    * [[graft.streaming.StreamSink.exactlyOnceJdbc]], key
    * `(query_id, batch_id)`): on the caller's connection, look the key up
    * in `ledgerTable`. A delivered key rolls back (releasing the read)
    * and returns 0; otherwise `deliver` runs and the ledger row and
    * everything `deliver` wrote commit in ONE transaction. On any throw
    * the transaction rolls back and the original exception surfaces. A
    * racing duplicate delivery is backstopped by the ledger's primary
    * key: the second commit's ledger insert fails and rolls it back.
    */
  private[graft] def ledgered(conn: Connection, ledgerTable: String, key: Seq[(String, Any)])
                             (deliver: => Int): Int = {
    def bound(sql: String) = {
      val ps = conn.prepareStatement(sql)
      key.zipWithIndex.foreach { case ((_, v), i) => ps.setObject(i + 1, v) }
      ps
    }
    val cols = key.map(_._1)
    transaction(conn) {
      val check = bound(s"SELECT 1 FROM $ledgerTable WHERE ${cols.map(_ + " = ?").mkString(" AND ")}")
      // closing the statement closes its result set
      val delivered = try check.executeQuery().next() finally check.close()
      if (delivered) { conn.rollback(); 0 }
      else {
        val n = deliver
        val ins = bound(s"INSERT INTO $ledgerTable (${cols.mkString(", ")}) " +
          s"VALUES (${cols.map(_ => "?").mkString(", ")})")
        try ins.executeUpdate() finally ins.close()
        n
      }
    }
  }

  /** Run `body` as one transaction on `conn`: commit after it returns; on
    * any throw roll back (a failed rollback is swallowed) and rethrow the
    * original exception, so the caller's close never meets an open
    * transaction.
    */
  private def transaction[T](conn: Connection)(body: => T): T = {
    conn.setAutoCommit(false)
    try { val r = body; conn.commit(); r }
    catch {
      case t: Throwable =>
        try conn.rollback() catch { case _: Throwable => () }
        throw t
    }
  }

  /** Open one connection, run `preactions` on it (autocommit), then `body`. */
  private def withPreactions[T](url: String, props: Properties, preactions: Seq[String])
                               (body: Connection => T): T = {
    val conn = DriverManager.getConnection(url, props)
    try {
      val st = conn.createStatement()
      try preactions.foreach(st.execute) finally st.close()
      body(conn)
    } finally conn.close()
  }

  /** One `copySql(table, part)` statement per staged part file under
    * `stagingDir`, in sorted (deterministic) order; returns the part count.
    */
  private def copyParts(conn: Connection, table: String, stagingDir: String,
                        copySql: (String, String) => String): Int = {
    val stream = Files.list(Paths.get(stagingDir))
    val parts = try stream.iterator().asScala
      .filter { p =>
        val n = p.getFileName.toString
        n.startsWith("part-") && n.endsWith(".csv")
      }
      .map(_.toAbsolutePath.toString).toSeq.sorted
    finally stream.close()
    val st = conn.createStatement()
    try parts.foreach(p => st.execute(copySql(table, p))) finally st.close()
    parts.size
  }
}
