package graft

import java.nio.file.Files
import graft.sources.JdbcSink

/** Preactions JDBC sink (SURVEY.md §2 S10) against embedded Derby:
  * idempotent CREATE TABLE preaction + append-mode dupe semantics —
  * append twice duplicates rows (exactly the reference's documented
  * failure mode without bookmarks).
  */
class JdbcSinkSpec extends SparkSuite {
  import spark.implicits._

  private val dbDir = Files.createTempDirectory("derby").toString
  private def url = s"jdbc:derby:$dbDir/graftdb;create=true"
  private val ddl = Seq(
    // Derby has no CREATE TABLE IF NOT EXISTS; the sink takes caller DDL
    // verbatim, so emulate idempotency the Derby way in the test.
    """CREATE TABLE report (k INT, total DOUBLE)""")

  test("preaction creates target; append lands rows; re-append duplicates") {
    val df = Seq((1, 10.0), (2, 20.0)).toDF("k", "total")
    JdbcSink.writeWithPreactions(df, url, "report", ddl)
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "report").load()
    assert(back.count() == 2)
    // second run, no preaction (table exists), append-mode => dupes
    JdbcSink.writeWithPreactions(df, url, "report")
    val back2 = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "report").load()
    assert(back2.count() == 4, "append without bookmarks duplicates (the 'messed' screenshot)")
  }

  // Derby's COPY verb: bulk-import one staged CSV part into `table`
  // (column-order positional, REPLACE=0 appends) — the warehouse-specific
  // statement the staged sink delegates to the caller.
  private def derbyCopy(table: String, path: String): String =
    s"CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(null, '${table.toUpperCase}', '$path', null, null, null, 0)"

  test("staged bulk load: distributed CSV staging then per-part COPY; preactions rerun idempotent") {
    val df = Seq((1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0))
      .toDF("k", "total").repartition(2)
    val staging = Files.createTempDirectory("staging").toString
    val n = JdbcSink.stagedBulkLoad(df, url, "staged", staging, derbyCopy,
      Seq("CREATE TABLE staged (k INT, total DOUBLE)"))
    assert(n >= 1, "at least one part file staged and loaded")
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "staged").load()
    assert(back.count() == 4)
    assert(back.agg(org.apache.spark.sql.functions.sum("total"))
      .head().getDouble(0) == 100.0)
    // second run: caller-idempotent preactions (table exists -> none),
    // fresh staging dir, COPY appends — same at-least-once semantics as
    // the direct JDBC append path
    val staging2 = Files.createTempDirectory("staging2").toString
    JdbcSink.stagedBulkLoad(df, url, "staged", staging2, derbyCopy)
    assert(spark.read.format("jdbc")
      .option("url", url).option("dbtable", "staged").load().count() == 8)
  }

  test("staged bulk load is transactional: a failing copy statement rolls back prior parts") {
    val df = Seq((1, 1.0), (2, 2.0)).toDF("k", "total").repartition(2)
    val staging = Files.createTempDirectory("staging_rb").toString
    var calls = 0
    // stand-in copy verb: first part loads via INSERT, second is invalid
    // SQL — asserts the sink's one-transaction contract independent of
    // the warehouse's import internals
    def flaky(table: String, path: String): String = {
      calls += 1
      if (calls == 1) s"INSERT INTO $table VALUES (99, 9.9)" else "THIS IS NOT SQL"
    }
    intercept[java.sql.SQLException] {
      JdbcSink.stagedBulkLoad(df, url, "staged_rb", staging, flaky,
        Seq("CREATE TABLE staged_rb (k INT, total DOUBLE)"))
    }
    assert(spark.read.format("jdbc")
      .option("url", url).option("dbtable", "staged_rb").load().count() == 0,
      "first part's insert must have been rolled back")
  }

  test("exactly-once staged load: redelivery is a ledger no-op; a new run id appends") {
    val df = Seq((1, 10.0), (2, 20.0)).toDF("k", "total").repartition(2)
    val ddl = Seq("CREATE TABLE eo (k INT, total DOUBLE)",
      JdbcSink.loadLedgerDdl("eo_ledger"))
    val s1 = Files.createTempDirectory("eo1").toString
    val n1 = JdbcSink.stagedBulkLoadExactlyOnce(df, url, "eo", s1, derbyCopy,
      runId = "run-A", ledgerTable = "eo_ledger", preactions = ddl)
    assert(n1 >= 1, "first delivery loads")
    def count(): Long = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "eo").load().count()
    assert(count() == 2)
    // redelivery of the SAME run: deduplicated without re-staging
    val s2 = Files.createTempDirectory("eo2").toString
    assert(JdbcSink.stagedBulkLoadExactlyOnce(df, url, "eo", s2, derbyCopy,
      runId = "run-A", ledgerTable = "eo_ledger") == 0)
    assert(count() == 2, "redelivery must not duplicate (the 'messed' screenshot)")
    assert(!Files.exists(java.nio.file.Paths.get(s2, "_SUCCESS")),
      "deduplicated redelivery must not even re-stage")
    // a distinct run id is a new delivery: appends
    val s3 = Files.createTempDirectory("eo3").toString
    assert(JdbcSink.stagedBulkLoadExactlyOnce(df, url, "eo", s3, derbyCopy,
      runId = "run-B", ledgerTable = "eo_ledger") >= 1)
    assert(count() == 4)
  }

  test("exactly-once staged load: a failed load leaves no ledger row, so the retry delivers") {
    val df = Seq((1, 1.0), (2, 2.0)).toDF("k", "total").repartition(2)
    val ddl = Seq("CREATE TABLE eo_rb (k INT, total DOUBLE)",
      JdbcSink.loadLedgerDdl("eo_rb_ledger"))
    var calls = 0
    def flaky(table: String, path: String): String = {
      calls += 1
      if (calls == 1) s"INSERT INTO $table VALUES (99, 9.9)" else "THIS IS NOT SQL"
    }
    val s1 = Files.createTempDirectory("eorb1").toString
    intercept[java.sql.SQLException] {
      JdbcSink.stagedBulkLoadExactlyOnce(df, url, "eo_rb", s1, flaky,
        runId = "run-X", ledgerTable = "eo_rb_ledger", preactions = ddl)
    }
    assert(spark.read.format("jdbc")
      .option("url", url).option("dbtable", "eo_rb").load().count() == 0,
      "rows and ledger entry roll back together")
    // crash-retry with the same run id: ledger is empty, so it loads
    val s2 = Files.createTempDirectory("eorb2").toString
    assert(JdbcSink.stagedBulkLoadExactlyOnce(df, url, "eo_rb", s2, derbyCopy,
      runId = "run-X", ledgerTable = "eo_rb_ledger") >= 1)
    assert(spark.read.format("jdbc")
      .option("url", url).option("dbtable", "eo_rb").load().count() == 2)
  }

  test("exactly-once staged load: a failed staging write surfaces its own error and leaves no ledger row") {
    val ddl = Seq("CREATE TABLE eo_st (k INT, total DOUBLE)",
      JdbcSink.loadLedgerDdl("eo_st_ledger"))
    val boom = org.apache.spark.sql.functions.udf((k: Int) => {
      if (k == 1) throw new IllegalStateException("staging write failed"); k
    })
    val df = Seq((1, 1.0), (2, 2.0)).toDF("k", "total")
    val ex = intercept[Exception] {
      JdbcSink.stagedBulkLoadExactlyOnce(df.withColumn("k", boom($"k")), url, "eo_st",
        Files.createTempDirectory("eost1").toString, derbyCopy,
        runId = "run-S", ledgerTable = "eo_st_ledger", preactions = ddl)
    }
    val chain = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null).toSeq
    // Derby's "cannot close a connection while a transaction is still
    // active" (SQLState 25001) must not replace the job's own failure
    assert(!chain.exists {
      case e: java.sql.SQLException => e.getSQLState == "25001"
      case _ => false
    }, s"the close error hid the staging failure: $ex")
    assert(chain.exists(e => String.valueOf(e.getMessage).contains("staging write failed")), ex.toString)
    def count(table: String): Long = spark.read.format("jdbc")
      .option("url", url).option("dbtable", table).load().count()
    assert(count("eo_st_ledger") == 0, "a failed delivery must not be marked delivered")
    assert(JdbcSink.stagedBulkLoadExactlyOnce(df, url, "eo_st",
      Files.createTempDirectory("eost2").toString, derbyCopy,
      runId = "run-S", ledgerTable = "eo_st_ledger") >= 1)
    assert(count("eo_st") == 2 && count("eo_st_ledger") == 1)
  }

  test("failed preaction aborts before any write") {
    val df = Seq((1, 10.0)).toDF("k", "total")
    intercept[java.sql.SQLException] {
      JdbcSink.writeWithPreactions(df, url, "never_created",
        Seq("THIS IS NOT SQL"))
    }
    intercept[Exception] {
      spark.read.format("jdbc")
        .option("url", url).option("dbtable", "never_created").load().count()
    }
  }
}
