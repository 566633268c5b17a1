package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{ParallelReports, StarPipeline}
import graft.sources.{BookmarkStore, IncrementalReader}
import graft.streaming.Streaming

/** The reference job's own surface: the star denormalization, its two
  * reports (alone and fanned out in parallel), the bookmark-incremental
  * end-to-end run, the exactly-once staged and streaming warehouse loads,
  * and the bookmark-driven incremental scans over parquet and JDBC.
  */
object StarQueries {

  val defs: Seq[QueryDef] = Seq(
    // S7 hash aggregation, TPC-H Q1 flavor: partial+final HashAggregate.
    QueryDef("q1_agg", (s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // S2+S3+S4: rename -> chained broadcast inner equi-join -> projection.
    QueryDef("star_denorm", (s, dir) =>
      StarPipeline.denormalized(s, dir)
        .orderBy(col("l_orderkey"), col("l_linenumber")),
      """SELECT l_orderkey, l_linenumber,
        |  l_partkey AS trn_partkey, l_suppkey AS trn_suppkey,
        |  l_extendedprice AS paid_amount, CAST(l_shipdate AS DATE) AS register_date,
        |  s_name, s_nationkey, p_brand, p_type, p_size
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN part ON l_partkey = p_partkey
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // S7 report A over the denormalized frame (users-report semantics).
    QueryDef("report_supplier", (s, dir) =>
      StarPipeline.supplierReport(StarPipeline.denormalized(s, dir))
        .orderBy(col("s_suppkey"), col("register_date")),
      """SELECT l_suppkey AS s_suppkey, s_name,
        |  CAST(l_shipdate AS DATE) AS register_date,
        |  round(sum(l_extendedprice), 2) AS total
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1, 2, 3
        |ORDER BY s_suppkey, register_date""".stripMargin),

    // S7+S8 report B, collapsed to one output partition like the reference.
    QueryDef("report_part_brand", (s, dir) =>
      StarPipeline.partBrandReport(StarPipeline.denormalized(s, dir))
        .repartition(1)
        .orderBy(col("p_brand"), col("register_date")),
      """SELECT p_brand, CAST(l_shipdate AS DATE) AS register_date,
        |  round(sum(l_extendedprice), 2) AS total
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1, 2
        |ORDER BY p_brand, register_date""".stripMargin),

    // S6+S11: both reports run concurrently from driver threads over one
    // cached frame, each pinned to its FAIR pool; results union'd.
    QueryDef("parallel_reports", (s, dir) => {
      val shared = StarPipeline.cachedReportInput(StarPipeline.denormalized(s, dir))
      // materialize once before the fan-out: two threads racing a cold
      // cache would each compute the full join (SURVEY.md §7.3)
      shared.count()
      val specs = Seq(
        ParallelReports.ReportSpec("supplier", "1", df =>
          StarPipeline.supplierReport(df)
            .select(concat(col("s_suppkey"), lit("|"), col("s_name")).as("report_key"),
              col("register_date"), col("total"))
            .withColumn("report", lit("supplier"))),
        ParallelReports.ReportSpec("part_brand", "2", df =>
          StarPipeline.partBrandReport(df)
            .select(col("p_brand").as("report_key"), col("register_date"), col("total"))
            .withColumn("report", lit("part_brand"))))
      // each report materializes exactly once on its pool thread by
      // writing to its (scratch parquet) sink — the reference's shape:
      // every report lands in a store (S10). Unlike a localCheckpoint,
      // this leaves NO block-manager residue: checkpoint blocks have no
      // public unpersist and accumulate across runs (r5: warm runs
      // degraded 4.4s -> 8s -> 11.6s from exactly that), while the
      // read-back union is a dimension-sized scan independent of `shared`.
      // Sinks live under the spark-visible TempDirs root (r6 ADVICE: a
      // java.io.tmpdir sink is driver-local and leaks across runs) and are
      // deleted at JVM exit — the returned frame still reads them lazily,
      // so eager deletion inside the query would be wrong
      val results = ParallelReports.run(s, shared, specs) { df =>
        val sink = TempDirs.create(s, "graft-report")
        df.write.mode("overwrite").parquet(sink)
        s.read.parquet(sink)
      }
      val out = results.map(_._2).reduce(_ union _)
        .orderBy(col("report"), col("report_key"), col("register_date"))
      // synchronous: an async unpersist races the next run's cache() of
      // the same plan and forces eviction churn mid-query
      shared.unpersist(blocking = true)
      out
    },
      """SELECT * FROM (
        |  SELECT CAST(l_suppkey AS VARCHAR) || '|' || s_name AS report_key,
        |    CAST(l_shipdate AS DATE) AS register_date,
        |    round(sum(l_extendedprice), 2) AS total, 'supplier' AS report
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2
        |  UNION ALL
        |  SELECT p_brand AS report_key, CAST(l_shipdate AS DATE) AS register_date,
        |    round(sum(l_extendedprice), 2) AS total, 'part_brand' AS report
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2
        |) ORDER BY report, report_key, register_date""".stripMargin),

    // The reference's WHOLE job end-to-end (SURVEY.md §3): bookmark state
    // says half the fact table was already ingested (its partial report
    // sits in the warehouse dir); one incremental run reads ONLY the
    // delta, fans out both reports under FAIR pools, appends, and commits
    // the bookmark after both sinks succeed. The consumer view re-
    // aggregates the appended partials — equal to a full recompute.
    QueryDef("incr_star_e2e", (s, dir) => {
      val stateDir = graft.TempDirs.create("graft-isj")
      val outDir = graft.TempDirs.create("graft-isj-out")
      val store = new BookmarkStore(stateDir)
      val reader = new IncrementalReader(s, dir, store)
      val keyCol = Tables.bookmarkKey("lineitem")
      val mid = reader.maxKey(Tables.lineitem(s, dir), keyCol).getOrElse(0L) / 2
      store.commit("lineitem", "star_job", mid)
      StarPipeline.supplierReport(StarPipeline.denormalizedFrom(
          Tables.lineitem(s, dir).filter(col(keyCol) <= mid),
          Tables.supplier(s, dir), Tables.part(s, dir)))
        .write.mode("append").parquet(s"$outDir/supplier_report")
      graft.operators.IncrementalStarJob.run(s, dir, store) { (name, df) =>
        df.write.mode("append").parquet(s"$outDir/$name")
      }
      s.read.parquet(s"$outDir/supplier_report")
        .groupBy(col("s_suppkey"), col("s_name"), col("register_date"))
        .agg(round(sum(col("total")), 2).as("total"))
        .orderBy(col("s_suppkey"), col("register_date"))
    },
      // mirrors the two-stage rounding of appended partial aggregates:
      // each half's report rounds its sum to 2, the consumer re-aggregates
      """WITH mid AS (SELECT max(l_orderkey) // 2 AS m FROM lineitem),
        |p AS (
        |  SELECT l_suppkey AS s_suppkey, s_name,
        |    CAST(l_shipdate AS DATE) AS register_date,
        |    CASE WHEN l_orderkey <= (SELECT m FROM mid) THEN 0 ELSE 1 END AS half,
        |    round(sum(l_extendedprice), 2) AS total
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  GROUP BY 1, 2, 3, 4)
        |SELECT s_suppkey, s_name, register_date, round(sum(total), 2) AS total
        |FROM p GROUP BY 1, 2, 3
        |ORDER BY s_suppkey, register_date""".stripMargin),

    // S10 staged warehouse load, proven exactly-once END TO END: the
    // reference's signature failure mode is a re-run duplicating every
    // target row (medium/transaction_by_subscription_report_messed.jpeg).
    // Here the same report is delivered TWICE through
    // JdbcSink.stagedBulkLoadExactlyOnce under one run id (a simulated
    // redelivery); the run-ledger transaction makes the second load a
    // metadata no-op, and the oracle checks the FINAL warehouse state —
    // any duplicate reload would double `n`/`total` and fail the hash.
    QueryDef("jdbc_staged_load", (s, dir) => {
      val tmp = graft.TempDirs.create("graft-jdbc")
      val url = s"jdbc:derby:$tmp/db;create=true"
      val report = Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      // warehouse-specific COPY verb (Derby's bulk import; Redshift would
      // be `COPY ... FROM 's3://...'`) — caller-owned per the sink contract
      def derbyCopy(table: String, path: String): String =
        s"CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(null, '${table.toUpperCase}', '$path', null, null, null, 0)"
      val ddl = Seq(
        "CREATE TABLE rpt (o_orderpriority VARCHAR(20), n BIGINT, total DOUBLE)",
        graft.sources.JdbcSink.loadLedgerDdl("load_ledger"))
      val loaded = graft.sources.JdbcSink.stagedBulkLoadExactlyOnce(
        report, url, "rpt", s"$tmp/stage1", derbyCopy,
        runId = "run-1", preactions = ddl)
      // require, not assert: the redelivery check IS the exactly-once
      // proof, and JVM assertions vanish under -Xdisable-assertions while
      // the oracle would still pass on final state alone
      require(loaded > 0, "first delivery must load")
      // redelivery: same runId, fresh staging dir, no preactions (Derby
      // lacks IF NOT EXISTS; on Redshift the same DDL would rerun) —
      // must be a no-op
      val redelivered = graft.sources.JdbcSink.stagedBulkLoadExactlyOnce(
        report, url, "rpt", s"$tmp/stage2", derbyCopy, runId = "run-1")
      require(redelivered == 0, "redelivery must be deduplicated by the ledger")
      s.read.format("jdbc").option("url", url).option("dbtable", "rpt").load()
        .select(col("o_orderpriority").as("o_orderpriority"),
          col("n").cast("long").as("n"), col("total").as("total"))
        .orderBy(col("o_orderpriority"))
    },
      // final warehouse state after load + deduplicated redelivery == the
      // report computed once straight from parquet
      """SELECT o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),

    // Streaming twin of jdbc_staged_load: a real writeStream.foreachBatch
    // query delivers per-batch PARTIAL aggregates into Derby through
    // StreamSink.exactlyOnceJdbc, and every batch is delivered TWICE (a
    // forced crash-redelivery) — the (query, batchId) ledger makes the
    // second delivery a no-op inside one warehouse transaction. The
    // consumer view re-aggregates the partials; the oracle checks that
    // final state equals the aggregate computed once from parquet, so any
    // duplicated batch would double counts and fail the hash.
    QueryDef("stream_ledger_sink", (s, dir) => {
      val tmp = graft.TempDirs.create("graft-ledger")
      val url = s"jdbc:derby:$tmp/db;create=true"
      def exec(sql: String): Unit = {
        val c = java.sql.DriverManager.getConnection(url)
        try { val st = c.createStatement(); try st.execute(sql) finally st.close() }
        finally c.close()
      }
      exec("CREATE TABLE stream_rpt (event_type VARCHAR(20), n BIGINT, total DOUBLE)")
      exec(graft.streaming.StreamSink.ledgerDdl("stream_ledger"))
      val sink = graft.streaming.StreamSink.exactlyOnceJdbc(url,
        "INSERT INTO stream_rpt VALUES (?, ?, ?)", "stream_ledger", "ledger_q") {
        (ps, r) =>
          ps.setString(1, r.getString(0)); ps.setLong(2, r.getLong(1))
          ps.setDouble(3, r.getDouble(2))
      }
      Streaming.drainBatches(Streaming.events(s, dir).select(col("event_type"), col("value")),
          s"$tmp/ckpt") { (batch, id) =>
        // bounded per-batch partial aggregate (unrounded: the consumer
        // re-aggregates, rounding once at the end)
        val partial = batch.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
        sink(partial, id)
        sink(partial, id) // forced duplicate delivery of every batch
      }
      s.read.format("jdbc").option("url", url).option("dbtable", "stream_rpt").load()
        .groupBy(col("event_type").as("event_type"))
        .agg(sum(col("n")).cast("long").as("n"),
          round(sum(col("total")), 2).as("total"))
        .orderBy(col("event_type"))
    },
      // warehouse state after every batch was delivered twice through the
      // ledger sink == the aggregate computed once from parquet
      LayoutQueries.typeTotalsOracle("", "")),

    // S1 incremental scan: bookmark = floor(max(event_id)/2) committed to a
    // real BookmarkStore, then a second "run" reads strictly beyond it with
    // the predicate pushed into the parquet scan.
    QueryDef("incremental_scan", (s, dir) => {
      val stateDir = graft.TempDirs.create("graft-bm")
      val store = new BookmarkStore(stateDir)
      val reader = new IncrementalReader(s, dir, store)
      val firstRunMax =
        reader.maxKey(Tables.events(s, dir), Tables.bookmarkKey("events")).getOrElse(0L)
      store.commit("events", "incr_scan", firstRunMax / 2)
      reader.read("events", "incr_scan")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .orderBy(col("event_id"))
    },
      """SELECT event_id, user_id, event_type, value
        |FROM events
        |WHERE event_id > (SELECT CAST(floor(max(event_id) / 2) AS BIGINT) FROM events)
        |ORDER BY event_id""".stripMargin),

    // S1's JDBC half (the reference's actual source is RDS over JDBC,
    // glue_rds_to_redshift.py:28-40): events loaded into an embedded Derby
    // warehouse, bookmark committed at max/2, then an incremental JDBC
    // read — the bookmark predicate compiles into the remote WHERE clause
    // (pushdown pinned in BookmarkSpec) and the delta is range-partitioned
    // on the key across 4 parallel queries (Glue's hashpartitions).
    QueryDef("incremental_scan_jdbc", (s, dir) => {
      val tmp = graft.TempDirs.create("graft-jdbc-src")
      val url = s"jdbc:derby:$tmp/db;create=true"
      val events = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      events.write.jdbc(url, "events_src", new java.util.Properties())
      val store = new BookmarkStore(graft.TempDirs.create("graft-bm-jdbc"))
      val reader = new IncrementalReader(s, dir, store)
      val firstRunMax = reader.maxKey(events, "event_id").getOrElse(0L)
      store.commit("events_src", "incr_jdbc", firstRunMax / 2)
      reader.readJdbc(url, "events_src", "event_id", "incr_jdbc", numPartitions = 4)
        .orderBy(col("event_id"))
    },
      // same delta as incremental_scan: the JDBC round trip (parquet -> Derby
      // -> incremental JDBC read) must be value-transparent
      """SELECT event_id, user_id, event_type, value
        |FROM events
        |WHERE event_id > (SELECT CAST(floor(max(event_id) / 2) AS BIGINT) FROM events)
        |ORDER BY event_id""".stripMargin)
  )

}
