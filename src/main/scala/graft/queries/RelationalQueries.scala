package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.operators.{AsOfJoin, Cdc, Dedup, Graph, IncrementalAgg, Intervals, Merge, RangeJoin, Resample, Sampling, Sessionize, SkewAgg, Transitions}

/** Relational operator breadth: joins (range, as-of, skew, semi/anti,
  * snowflake), grouping sets, windows, sessionization, CDC and SCD2,
  * sampling, graph walks and ranks, sketches and custom aggregates,
  * data-quality and privacy gates, and the native kernels through SQL.
  */
object RelationalQueries {

  val defs: Seq[QueryDef] = Seq(
    // The native kernels through the SQL front door — GraftExtensions
    // registers them via SparkSessionExtensions.injectFunction, so a pure
    // spark.sql user gets the same codegen'd primitives as the Column API.
    QueryDef("sql_kernels", (s, dir) => {
      Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .createOrReplaceTempView("documents_v")
      s.sql("""SELECT doc_id,
               |  poly_hash(text) AS fp,
               |  simhash64(text, 16) AS sh,
               |  size(token_hashes(text)) AS n_tok,
               |  size(shingle_hashes(text, 3)) AS n_shingles
               |FROM documents_v ORDER BY doc_id""".stripMargin)
    }, {
      val th = s"list_transform(${Oracles.tokens("text")}, t -> ${Oracles.polyHash("t")})"
      s"""SELECT doc_id,
         |  ${Oracles.polyHash("text")} AS fp,
         |  ${Oracles.simhash(th, 16)} AS sh,
         |  len(${Oracles.tokens("text")}) AS n_tok,
         |  len(${Oracles.shingleHashes("text", 3)}) AS n_shingles
         |FROM documents ORDER BY doc_id""".stripMargin
    }),

    // 3-iteration PageRank over the bipartite part<->supplier graph from
    // lineitem (ids namespaced even/odd); per-round rounding keeps the
    // carried state bit-identical between engines.
    QueryDef("pagerank", (s, dir) =>
      Graph.pagerank(partSupplierEdges(s, dir), iters = 3).orderBy(col("node")), {
      val iters = 3
      val rounds = (1 to iters).map { i =>
        s"""r$i AS (
           |  SELECT e.dst AS node, round(CAST(0.15 AS DOUBLE) / (SELECT n FROM nn) +
           |    0.85 * sum(r.score / d.out_deg), 9) AS score
           |  FROM edges e JOIN r${i - 1} r ON e.src = r.node
           |  JOIN deg d ON e.src = d.src
           |  GROUP BY e.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH $partSupplierEdgeCtes,
         |deg AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY src),
         |nn AS (SELECT count(*) AS n FROM deg),
         |r0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS score
         |       FROM deg),
         |$rounds
         |SELECT d.src AS node, d.out_deg, r$iters.score
         |FROM deg d JOIN r$iters ON d.src = r$iters.node ORDER BY node""".stripMargin
    }),

    // Deterministic random walks (node2vec/DeepWalk sampling with the
    // randomness replaced by the portable hash — reproducible across
    // runs, repartitioning, and engines): one walk per node over the
    // part-supplier bipartite graph, 3 steps, each step one
    // frontier-vs-adjacency join on the same key.
    QueryDef("graph_walks", (s, dir) =>
      Graph.deterministicWalks(partSupplierEdges(s, dir), steps = 3)
        .orderBy(col("start"), col("step")),
      walkOracle(s"""$partSupplierEdgeCtes,
        |ed AS (SELECT DISTINCT src, dst FROM edges)""".stripMargin)),

    // Walks over a DIRECTED acyclic graph with real dead ends (r8 verdict
    // #7): nodes 0..200, edges hop forward by 1..37 capped at 200, so the
    // top of the key space has shrinking out-degree and node 200 is a
    // pure sink. A walk reaching a dead end ENDS there — the left-join
    // freeze keeps the steps already taken (the old inner-join step
    // dropped the whole walker). Same one-join-per-hop plan as
    // graph_walks; the oracle replays every hop including the early
    // terminations.
    QueryDef("graph_walks_directed", (s, dir) => {
      val edges = Tables.lineitem(s, dir)
        .select((col("l_partkey") % 200).as("src"),
          ((col("l_partkey") % 200) + (col("l_suppkey") % 37) + 1).as("dst"))
        .filter(col("dst") <= 200).distinct()
      Graph.deterministicWalks(edges, steps = 3)
        .orderBy(col("start"), col("step"))
    },
      // dead ends included: see walkOracle
      walkOracle("""ed AS (
        |  SELECT DISTINCT l_partkey % 200 AS src,
        |    (l_partkey % 200) + (l_suppkey % 37) + 1 AS dst
        |  FROM lineitem
        |  WHERE (l_partkey % 200) + (l_suppkey % 37) + 1 <= 200)""".stripMargin)),

    // Triangle participation per node over the near-dup candidate graph
    // (density signal for dedup clusters): two vertex-key equi-joins,
    // never a cross product.
    QueryDef("graph_triangles", (s, dir) =>
      Graph.triangleCounts(
        Dedup.minhashLshPairs(
          Tables.documents(s, dir).filter(col("doc_id") % 10 === 0),
          n = 3, k = 16, bands = 4, threshold = 0.6)
          .select(col("id_a"), col("id_b")))
        .orderBy(col("node")),
      s"""WITH ${DedupQueries.minhashPairsCtes},
         |e AS (SELECT DISTINCT id_a AS a, id_b AS b FROM mh_pairs),
         |w AS (
         |  SELECT e1.a AS a, e1.b AS b, e2.b AS c
         |  FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b),
         |tri AS (
         |  SELECT w.a, w.b, w.c FROM w JOIN e e3 ON w.b = e3.a AND w.c = e3.b),
         |corners AS (
         |  SELECT a AS node FROM tri
         |  UNION ALL SELECT b FROM tri
         |  UNION ALL SELECT c FROM tri)
         |SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
         |FROM corners GROUP BY node ORDER BY node""".stripMargin),

    // Batch sessionization (gaps-and-islands): session-size distribution
    // with average duration. One shuffle on the user key serves windows
    // and aggregation; same session semantics as stream_sessions.
    QueryDef("session_stats", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), Tables.eventSeconds.as("tss"))
      Sessionize.batch(ev, 1800)
        .groupBy(col("n_events"))
        .agg(count(lit(1)).as("n_sessions"),
          round(avg(col("session_end") - col("session_start")), 2).as("avg_duration"))
        .orderBy(col("n_events"))
    },
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS tss FROM events),
        |x AS (
        |  SELECT user_id, event_id, tss,
        |    CASE WHEN lag(tss) OVER w IS NULL OR tss - lag(tss) OVER w > 1800
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tss, event_id)),
        |y AS (
        |  SELECT user_id, event_id, tss,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY tss, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x),
        |s AS (
        |  SELECT user_id, sid, min(tss) AS session_start,
        |    max(tss) + 1800 AS session_end, count(*) AS n_events
        |  FROM y GROUP BY user_id, sid)
        |SELECT n_events, count(*) AS n_sessions,
        |  round(avg(session_end - session_start), 2) AS avg_duration
        |FROM s GROUP BY n_events ORDER BY n_events""".stripMargin),

    // CDC upsert compaction: current state per user from the event
    // changelog, 'error' acting as the delete marker. max(struct) keeps
    // the shuffle at one row per key per partition (map-side combine) —
    // no window sort over the full log.
    QueryDef("cdc_latest", (s, dir) => {
      val ch = Tables.events(s, dir)
        .select(col("user_id"), Tables.eventSeconds.as("tss"),
          col("event_id"), col("event_type"), col("value"))
      Cdc.latest(ch, Seq("user_id"), Seq("tss", "event_id"),
          isDelete = Some(col("event_type") === "error"))
        .select(col("user_id"), col("tss").as("last_ts"),
          col("event_id").as("last_event"), col("event_type").as("last_type"),
          round(col("value"), 2).as("last_value"))
        .orderBy(col("user_id"))
    },
      """WITH e AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS tss, event_id,
        |    event_type, value FROM events),
        |r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id ORDER BY tss DESC, event_id DESC) AS rn
        |  FROM e)
        |SELECT user_id, tss AS last_ts, event_id AS last_event,
        |  event_type AS last_type, round(value, 2) AS last_value
        |FROM r WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin),

    // Type-2 SCD build: validity intervals of each user's event_type,
    // consecutive duplicates collapsed; one shuffle on the key.
    QueryDef("scd2_build", (s, dir) => {
      val ch = Tables.events(s, dir)
        .select(col("user_id"), Tables.eventSeconds.as("tss"),
          col("event_id"), col("event_type"))
      Cdc.scd2(ch, Seq("user_id"), "tss", "event_id", Seq("event_type"))
        .orderBy(col("user_id"), col("valid_from"))
    },
      scd2Oracle),

    // Incremental SCD2: the dimension is built from the first ~90% of the
    // changelog (one discrete run), then the bookmark-delta tail is MERGED
    // — closed versions pass through a map-only broadcast-anti scan, the
    // window re-runs only over open-rows-of-touched-keys + delta. The
    // oracle is the full-recompute SQL: merge(old→dim, delta) must be
    // row-identical to scd2(everything).
    QueryDef("scd2_merge", (s, dir) => {
      val ch = Tables.events(s, dir)
        .select(col("user_id"), Tables.eventSeconds.as("tss"),
          col("event_id"), col("event_type"))
      val r = ch.agg(min(col("tss")), max(col("tss"))).head()
      val cut = r.getLong(0) + (r.getLong(1) - r.getLong(0)) * 9 / 10
      // the dimension is a STORED table between runs (that is the whole
      // point of the merge) — materialize it, so the merge's three
      // pass-through branches are cheap parquet scans, not three
      // recomputations of the historical window
      val dimDir = graft.TempDirs.create("graft-scd2dim")
      Cdc.scd2(ch.filter(col("tss") <= cut), Seq("user_id"),
          "tss", "event_id", Seq("event_type"), keepTie = true)
        .write.mode("overwrite").parquet(dimDir)
      Cdc.scd2Merge(s.read.parquet(dimDir), ch.filter(col("tss") > cut),
        Seq("user_id"), "tss", "event_id", Seq("event_type"))
        .orderBy(col("user_id"), col("valid_from"))
    },
      // the incremental merge's oracle IS the batch recompute: the merged
      // dimension must be row-identical to scd2 over the whole changelog
      scd2Oracle),

    // Time-series resample: daily per-user activity with quiet days
    // emitted and forward-filled. The raw stream crosses one shuffle;
    // the grid is executor-generated (sequence+explode), never a
    // driver calendar loop.
    QueryDef("gap_fill", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), Tables.eventSeconds.as("tss"), col("value"))
      Resample.gapFill(ev, "user_id", "tss", "value", 86400L)
        .orderBy(col("user_id"), col("bucket"))
    },
      """WITH e AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS tss, value
        |  FROM events),
        |o AS (
        |  SELECT user_id, tss - tss % 86400 AS bucket,
        |    round(sum(value), 2) AS v, count(*) AS n_obs
        |  FROM e GROUP BY 1, 2),
        |s AS (
        |  SELECT user_id, min(bucket) AS lo, max(bucket) AS hi
        |  FROM o GROUP BY 1),
        |g AS (
        |  SELECT user_id, unnest(generate_series(lo, hi, 86400)) AS bucket
        |  FROM s),
        |f AS (
        |  SELECT g.user_id, g.bucket, o.v, coalesce(o.n_obs, 0) AS n_obs
        |  FROM g LEFT JOIN o ON g.user_id = o.user_id AND g.bucket = o.bucket)
        |SELECT user_id, bucket,
        |  last_value(v IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY bucket
        |    ROWS UNBOUNDED PRECEDING) AS v_filled,
        |  n_obs
        |FROM f ORDER BY user_id, bucket""".stripMargin),

    // Deterministic train/test split: membership is a pure function of
    // poly_hash(event_id), stable under repartitioning/re-ingestion (a
    // seeded df.sample() is neither) — map-only, no shuffle.
    QueryDef("sample_split", (s, dir) =>
      Sampling.trainTestSplit(Tables.events(s, dir), col("event_id"), 0.8)
        .groupBy(col("event_type"), col("split"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("event_type"), col("split")),
      s"""WITH t AS (
         |  SELECT event_type, user_id,
         |    CASE WHEN ${Oracles.sampleBucket("CAST(event_id AS VARCHAR)", 1000)} < 800
         |      THEN 'train' ELSE 'test' END AS split
         |  FROM events)
         |SELECT event_type, split, count(*) AS n, count(DISTINCT user_id) AS n_users
         |FROM t GROUP BY event_type, split ORDER BY event_type, split""".stripMargin),

    // Stratified sampling: per-class keep rates off the same portable
    // hash (downsample dominant classes, keep rare ones whole).
    QueryDef("sample_stratified", (s, dir) =>
      Sampling.stratifiedSample(Tables.events(s, dir), col("event_id"),
        col("event_type"),
        Map("click" -> 0.5, "view" -> 0.1, "purchase" -> 1.0,
          "signup" -> 1.0, "error" -> 0.25))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
        .orderBy(col("event_type")),
      s"""WITH t AS (
         |  SELECT event_type, event_id,
         |    ${Oracles.sampleBucket("CAST(event_id AS VARCHAR)", 1000)} AS b
         |  FROM events)
         |SELECT event_type, count(*) AS n, min(event_id) AS min_id, max(event_id) AS max_id
         |FROM t
         |WHERE (event_type = 'click' AND b < 500) OR (event_type = 'view' AND b < 100)
         |   OR (event_type = 'purchase' AND b < 1000) OR (event_type = 'signup' AND b < 1000)
         |   OR (event_type = 'error' AND b < 250)
         |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Range join: events inside incident windows (top-50 events by value,
    // +/- 30 min each) via fixed-width bin keys — an equi-join on the bin,
    // never a nested-loop; exact containment post-filter; per-incident agg.
    QueryDef("range_join", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), Tables.eventSeconds.as("sec"), col("value"))
      val incidents = ev
        .orderBy(col("value").desc, col("event_id"))
        .limit(50)
        .select(col("event_id").as("incident_id"),
          (col("sec") - 1800).as("start_sec"), (col("sec") + 1800).as("end_sec"))
      RangeJoin.binned(ev, "sec", incidents, "start_sec", "end_sec", 3600)
        .groupBy(col("incident_id"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("incident_id"))
    },
      """WITH ev AS (
        |  SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec, value FROM events),
        |inc AS (
        |  SELECT event_id AS incident_id, sec - 1800 AS start_sec, sec + 1800 AS end_sec
        |  FROM ev ORDER BY value DESC, event_id LIMIT 50)
        |SELECT i.incident_id, count(*) AS n_events, round(sum(e.value), 2) AS sum_value
        |FROM ev e JOIN inc i ON e.sec >= i.start_sec AND e.sec <= i.end_sec
        |GROUP BY i.incident_id ORDER BY i.incident_id""".stripMargin),

    // As-of join: each event gets the user's most recent signup at or
    // before it (union-tag + running-last window; one shuffle, no range
    // cross-join).
    QueryDef("asof_join", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          // join at the full stored precision (micros), matching the
          // oracle's epoch_us(ts)
          Tables.eventMicros.as("ts_us"))
      val signups = ev.filter(col("event_type") === "signup")
      AsOfJoin.asOf(ev, signups, "user_id", "ts_us", "ts_us",
        payload = Seq("event_id", "ts_us"), prefix = "signup_")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("signup_event_id"), col("signup_ts_us"))
        .orderBy(col("event_id"))
    },
      """SELECT l.event_id, l.user_id, l.event_type,
        |  r.event_id AS signup_event_id, epoch_us(r.ts) AS signup_ts_us
        |FROM events l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin),

    // Window top-k: 3 highest-revenue parts per brand (rank over rounded
    // revenue, partkey tie-break).
    QueryDef("topk_per_group", (s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("l_partkey"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("p_brand")).orderBy(col("revenue").desc, col("l_partkey"))
      rev.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
        .orderBy(col("p_brand"), col("rank"))
    },
      """SELECT * FROM (
        |  SELECT p_brand, l_partkey,
        |    round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |    row_number() OVER (PARTITION BY p_brand
        |      ORDER BY round(sum(l_extendedprice * (1.0 - l_discount)), 2) DESC, l_partkey) AS rank
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY p_brand, l_partkey)
        |WHERE rank <= 3 ORDER BY p_brand, rank""".stripMargin),

    // Rollup (grouping sets): revenue by (year, returnflag), per-year, and
    // grand total in one pass.
    QueryDef("rollup_revenue", (s, dir) =>
      Tables.lineitem(s, dir)
        .withColumn("ship_year", year(col("l_shipdate")))
        .rollup(col("ship_year"), col("l_returnflag"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("ship_year"), col("l_returnflag"), col("n")),
      """SELECT CAST(year(l_shipdate) AS INT) AS ship_year, l_returnflag,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (ship_year, l_returnflag)
        |ORDER BY ship_year, l_returnflag, n""".stripMargin),

    // CUBE with grouping_id: every (returnflag × linestatus) margin in
    // one pass — Spark expands grouping sets before the single hash agg.
    QueryDef("cube_agg", (s, dir) =>
      Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_extendedprice")), 2).as("sum_price"),
          count(lit(1)).as("n"), grouping_id().as("gid"))
        .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus")),
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_extendedprice), 2) AS sum_price, count(*) AS n,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin),

    // Arbitrary GROUPING SETS (neither rollup nor cube): three unrelated
    // margins in ONE expand + hash agg pass, not three scans unioned.
    QueryDef("grouping_sets_agg", (s, dir) =>
      Tables.lineitem(s, dir)
        .withColumn("ship_year", year(col("l_shipdate")))
        .groupingSets(
          Seq(Seq(col("ship_year"), col("l_returnflag")),
            Seq(col("l_linestatus")), Seq()),
          col("ship_year"), col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("n"), grouping_id().as("gid"))
        .orderBy(col("gid"), col("ship_year"), col("l_returnflag"),
          col("l_linestatus")),
      """SELECT CAST(year(l_shipdate) AS INT) AS ship_year, l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n,
        |  CAST(GROUPING(ship_year, l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem
        |GROUP BY GROUPING SETS ((ship_year, l_returnflag), (l_linestatus), ())
        |ORDER BY gid, ship_year, l_returnflag, l_linestatus""".stripMargin),

    // Unpivot (wide measures -> long): per-measure totals over lineitem.
    // The melt is map-only; one hash agg on the 4-row measure key.
    QueryDef("unpivot_measures", (s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax"))
        .unpivot(Array(col("l_orderkey")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
          "measure", "val")
        .groupBy(col("measure"))
        .agg(count(lit(1)).as("n"), round(sum(col("val")), 2).as("total"),
          round(avg(col("val")), 4).as("mean"))
        .orderBy(col("measure")),
      """WITH u AS (
        |  SELECT l_orderkey, 'l_quantity' AS measure, l_quantity AS val FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, 'l_discount', l_discount FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, 'l_tax', l_tax FROM lineitem)
        |SELECT measure, count(*) AS n, round(sum(val), 2) AS total,
        |  round(avg(val), 4) AS mean
        |FROM u GROUP BY measure ORDER BY measure""".stripMargin),

    // Moment statistics per group: stddev/variance/correlation/covariance
    // — single partial-aggregating pass, no second scan for the means.
    QueryDef("stats_summary", (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
          round(var_samp(col("l_quantity")), 4).as("var_qty"),
          // `+ 0.0` collapses IEEE -0.0 to +0.0: DuckDB's float round keeps
          // the sign of a tiny negative (round(-2e-7, 6) = -0.0) while
          // Spark's BigDecimal round yields +0.0 — same value, different
          // bits, and the oracle's hash compare is bit-exact.
          (round(corr(col("l_quantity"), col("l_extendedprice")), 4) + lit(0.0)).as("corr_qty_price"),
          (round(covar_samp(col("l_discount"), col("l_tax")), 6) + lit(0.0)).as("cov_disc_tax"))
        .orderBy(col("l_returnflag")),
      """SELECT l_returnflag, count(*) AS n,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(stddev_samp(l_quantity), 4) AS sd_qty,
        |  round(var_samp(l_quantity), 4) AS var_qty,
        |  round(corr(l_quantity, l_extendedprice), 4) + 0 AS corr_qty_price,
        |  round(covar_samp(l_discount, l_tax), 6) + 0 AS cov_disc_tax
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // Set operations: customers ordering in both 1995 and 1996 but not 1997.
    QueryDef("setop_customers", (s, dir) => {
      def custsIn(y: Int) = Tables.orders(s, dir)
        .filter(year(col("o_orderdate")) === y).select(col("o_custkey"))
      custsIn(1995).intersect(custsIn(1996)).except(custsIn(1997))
        .orderBy(col("o_custkey"))
    },
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
        |ORDER BY o_custkey""".stripMargin),

    // Semi/anti joins: per-segment counts of customers with and without
    // orders.
    QueryDef("semi_anti_join", (s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      val withOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
        .withColumn("kind", lit("with_orders"))
      val withoutOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
        .withColumn("kind", lit("without_orders"))
      withOrders.unionByName(withoutOrders).orderBy(col("kind"), col("c_mktsegment"))
    },
      """SELECT c_mktsegment, count(*) AS n, 'with_orders' AS kind
        |FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment
        |UNION ALL
        |SELECT c_mktsegment, count(*) AS n, 'without_orders' AS kind
        |FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment
        |ORDER BY kind, c_mktsegment""".stripMargin),

    // Distinct aggregation: exact distinct users + event count per type.
    QueryDef("distinct_agg", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("event_type")),
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
        |  count(*) AS n_events, round(sum(value), 2) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // CEP-style ordered sequence match click->view->purchase within 24h:
    // tightest-chain semantics, one exchange + one sort + k windows.
    QueryDef("pattern_funnel", (s, dir) =>
      graft.operators.Patterns.sequenceMatches(
        Tables.events(s, dir).select(col("user_id"), col("event_id"),
          col("event_type"), Tables.eventSeconds.as("tss")),
        pattern = Seq("click", "view", "purchase"), withinSec = 86400)
        .orderBy(col("user_id")),
      // identical semantics batch (pattern_funnel) and streaming
      // (stream_pattern) -- one oracle serves both
      StreamQueries.patternChainSql),

    // Ordered-firsts funnel (view -> click -> purchase): one conditional
    // aggregation per user, then a global rollup — two shuffles total,
    // the second over one row per user.
    QueryDef("funnel_steps", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), Tables.eventSeconds.as("tss"))
      ev.groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "view", col("tss"))).as("t_view"),
          min(when(col("event_type") === "click", col("tss"))).as("t_click"),
          min(when(col("event_type") === "purchase", col("tss"))).as("t_buy"))
        .agg(count(lit(1)).as("n_users"),
          count(col("t_view")).as("n_view"),
          sum(when(col("t_view") < col("t_click"), 1L).otherwise(0L)).as("n_view_click"),
          sum(when(col("t_view") < col("t_click") && col("t_click") < col("t_buy"), 1L)
            .otherwise(0L)).as("n_full"))
    },
      """WITH e AS (
        |  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS tss
        |  FROM events),
        |s AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN tss END) AS t_view,
        |    min(CASE WHEN event_type = 'click' THEN tss END) AS t_click,
        |    min(CASE WHEN event_type = 'purchase' THEN tss END) AS t_buy
        |  FROM e GROUP BY user_id)
        |SELECT count(*) AS n_users, count(t_view) AS n_view,
        |  CAST(coalesce(sum(CASE WHEN t_view < t_click THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_view_click,
        |  CAST(coalesce(sum(CASE WHEN t_view < t_click AND t_click < t_buy THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_full
        |FROM s""".stripMargin),

    // Fixed-bound histogram: width_bucket is map-only; one partial-
    // aggregating shuffle on the 26-ary bucket key.
    QueryDef("value_histogram", (s, dir) =>
      Tables.events(s, dir)
        .select(width_bucket(col("value"), lit(0.0), lit(600.0), lit(24)).as("bucket"),
          col("value"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
        .orderBy(col("bucket")),
      """SELECT
        |  CASE WHEN value < 0.0 THEN 0 WHEN value >= 600.0 THEN 25
        |    ELSE CAST(floor(value / 25.0) AS BIGINT) + 1 END AS bucket,
        |  count(*) AS n, round(sum(value), 2) AS total
        |FROM events GROUP BY bucket ORDER BY bucket""".stripMargin),

    // Z-score anomaly counts: per-type moments, broadcast join-back,
    // map-only scoring pass — the two-pass pattern that avoids a window
    // over the full stream.
    QueryDef("anomaly_zscore", (s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_type"), col("value"))
      val stats = ev.groupBy(col("event_type"))
        .agg(avg(col("value")).as("mu"), stddev_samp(col("value")).as("sd"))
      ev.join(broadcast(stats), "event_type")
        .withColumn("z", round((col("value") - col("mu")) / col("sd"), 6))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(abs(col("z")) >= 3.0, 1L).otherwise(0L)).as("n_anomalies"),
          round(max(abs(col("z"))), 4).as("max_z"))
        .orderBy(col("event_type"))
    },
      """WITH s AS (
        |  SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
        |  FROM events GROUP BY 1),
        |z AS (
        |  SELECT e.event_type, round((e.value - s.mu) / s.sd, 6) AS z
        |  FROM events e JOIN s USING (event_type))
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(CASE WHEN abs(z) >= 3.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
        |  round(max(abs(z)), 4) AS max_z
        |FROM z GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Retention cohorts: users grouped by first-signup week, counted as
    // active in each later week. Cohort table is user-keyed (one row per
    // user) and joins the distinct (user, week) activity on the user key.
    QueryDef("retention_cohorts", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          floor(Tables.eventSeconds / 604800L).cast("long").as("week"))
      val cohort = ev.where(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
      val active = ev.select(col("user_id"), col("week")).distinct()
      cohort.join(active, "user_id")
        .where(col("week") >= col("cohort_week"))
        .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .orderBy(col("cohort_week"), col("week_offset"))
    },
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS week
        |  FROM events),
        |cohort AS (
        |  SELECT user_id, min(week) AS cohort_week FROM e
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |active AS (SELECT DISTINCT user_id, week FROM e)
        |SELECT c.cohort_week, a.week - c.cohort_week AS week_offset,
        |  count(DISTINCT c.user_id) AS n_active
        |FROM cohort c JOIN active a ON c.user_id = a.user_id
        |WHERE a.week >= c.cohort_week
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Misra-Gries heavy hitters: bounded sketch state (<= 8 counters per
    // partial) instead of an unbounded per-group frequency map. Exact
    // here because the item cardinality fits the sketch; the eviction /
    // error-bound regime is spec-pinned on skewed synthetic data.
    QueryDef("heavy_hitters", (s, dir) =>
      Tables.events(s, dir)
        .agg(GraftFunctions.heavy_hitters(col("event_type"), 8).as("hh"))
        .select(explode(col("hh")).as("e"))
        .select(col("e.item").as("event_type"), col("e.est_count").as("n"))
        .orderBy(col("n").desc, col("event_type")),
      """SELECT event_type, count(*) AS n FROM events
        |GROUP BY event_type ORDER BY n DESC, event_type""".stripMargin),

    // Skew-safe exact distinct count: the distinct set sharded 16 ways by
    // a hash of the distinct column, so a hot key's per-task state is
    // 1/16th — phase 2 plain-sums the disjoint shard counts.
    QueryDef("skew_distinct", (s, dir) =>
      SkewAgg.distinctCountSalted(Tables.events(s, dir), Seq("event_type"),
          "user_id", 16)
        .orderBy(col("event_type")),
      """SELECT event_type, count(DISTINCT user_id) AS n_distinct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Incremental aggregate maintenance: aggregate only the delta, fold
    // it into the prior state, derive read-time values from the merged
    // state. Equal to a full recompute (oracle) at O(delta) cost per run.
    QueryDef("incr_agg_merge", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val history = ev.where(pmod(col("event_id"), lit(2)) === 0)
      val delta = ev.where(pmod(col("event_id"), lit(2)) === 1)
      val state = IncrementalAgg.merge(
        IncrementalAgg.aggregate(history, Seq("event_type"), "value"),
        IncrementalAgg.aggregate(delta, Seq("event_type"), "value"),
        Seq("event_type"))
      IncrementalAgg.finish(state).orderBy(col("event_type"))
    },
      LayoutQueries.typeTotalsOracle(", min(value) AS lo, max(value) AS hi," +
        " round(round(sum(value), 2) / count(*), 4) AS mean", "")),

    // Salted skew join: per-user totals joined back to events with the hot
    // key spread over 8 salt buckets — result identical to a plain join.
    QueryDef("skew_join", (s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"), col("value"))
      val userTotals = ev.groupBy(col("user_id"))
        .agg(round(sum(col("value")), 2).as("user_total"))
      graft.operators.SkewJoin.salted(ev, userTotals, "user_id",
        buckets = 8, bigSalt = col("event_id"))
        .select(col("event_id"), col("user_id"), col("user_total"))
        .orderBy(col("event_id"))
    },
      """WITH t AS (
        |  SELECT user_id, round(sum(value), 2) AS user_total FROM events GROUP BY user_id)
        |SELECT e.event_id, e.user_id, t.user_total
        |FROM events e JOIN t ON e.user_id = t.user_id
        |ORDER BY e.event_id""".stripMargin),

    // Time-RANGE window frame: each event's trailing-7-day sum/count for
    // its user — a range frame over event-time seconds, not a row frame
    // (duplicate timestamps share one frame; deterministic by value set).
    QueryDef("window_range", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          Tables.eventSeconds.as("tss"), col("value"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("tss"))
        .rangeBetween(-604800L, 0L)
      ev.withColumn("trailing_7d_sum", round(sum(col("value")).over(w), 2))
        .withColumn("trailing_7d_n", count(lit(1)).over(w))
        .select(col("event_id"), col("user_id"), col("tss"),
          round(col("value"), 2).as("value"),
          col("trailing_7d_sum"), col("trailing_7d_n"))
        .orderBy(col("event_id"))
    },
      """WITH e AS (
        |  SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS tss, value
        |  FROM events)
        |SELECT event_id, user_id, tss, round(value, 2) AS value,
        |  round(sum(value) OVER w, 2) AS trailing_7d_sum,
        |  count(*) OVER w AS trailing_7d_n
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY tss
        |  RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin),

    // Per-customer order-value quartiles (ntile) rolled up globally —
    // ntile partitions are per-customer, so no global single-partition
    // sort exists anywhere in the plan.
    QueryDef("ntile_quartiles", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("quartile", ntile(4).over(w))
        .groupBy(col("quartile"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("o_totalprice")), 2).as("avg_price"),
          round(sum(col("o_totalprice")), 2).as("sum_price"))
        .orderBy(col("quartile"))
    },
      """WITH q AS (
        |  SELECT o_custkey, o_totalprice,
        |    ntile(4) OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice, o_orderkey) AS quartile
        |  FROM orders)
        |SELECT quartile, count(*) AS n, round(avg(o_totalprice), 2) AS avg_price,
        |  round(sum(o_totalprice), 2) AS sum_price
        |FROM q GROUP BY quartile ORDER BY quartile""".stripMargin),

    // MAP-type breadth: per-user event_type→count map built with
    // map_from_entries (deterministic entry order from sorted entries),
    // then map_keys/element_at/map_filter/aggregate over it; map outputs
    // canonicalize to sorted k=v strings for the cross-engine compare.
    QueryDef("map_functions", (s, dir) => {
      val counts = Tables.events(s, dir)
        // a NULL event_type is a legal input row but an illegal map key
        // (Spark throws NULL_MAP_KEY): canonicalize to '' BEFORE grouping
        // so the row keeps counting toward n_types/total instead of either
        // crashing the query or silently vanishing; the oracle applies the
        // identical coalesce
        .groupBy(col("user_id"), coalesce(col("event_type"), lit("")).as("event_type"))
        .agg(count(lit(1)).as("n"))
      counts.groupBy(col("user_id"))
        .agg(map_from_entries(
          array_sort(collect_list(struct(col("event_type"), col("n"))))).as("m"))
        .select(col("user_id"),
          size(map_keys(col("m"))).as("n_types"),
          // try_element_at: NULL on a missing key (a user with zero
          // clicks) — plain element_at throws under ANSI mode where the
          // DuckDB oracle yields NULL
          try_element_at(col("m"), lit("click")).as("n_click"),
          aggregate(map_values(col("m")), lit(0L), (a, x) => a + x).as("total"),
          nullif(concat_ws(",",
            transform(map_entries(map_filter(col("m"), (_, v) => v >= 5)),
              e => concat(e.getField("key"), lit("="), e.getField("value")))),
            lit("")).as("frequent"))
        .orderBy(col("user_id"))
    },
      """WITH c AS (
        |  SELECT user_id, coalesce(event_type, '') AS event_type,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id,
        |  CAST(count(*) AS INT) AS n_types,
        |  max(CASE WHEN event_type = 'click' THEN n END) AS n_click,
        |  CAST(sum(n) AS BIGINT) AS total,
        |  string_agg(CASE WHEN n >= 5 THEN event_type || '=' || n END, ','
        |    ORDER BY event_type) AS frequent
        |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin),

    // Full-outer reconciliation across tables: per-nation counts of
    // customers with/without orders and orphan order keys (none by FK).
    QueryDef("outer_join_recon", (s, dir) => {
      val custOrders = Tables.orders(s, dir)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      Tables.customer(s, dir)
        .join(custOrders, col("c_custkey") === col("o_custkey"), "full_outer")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_keys"),
          sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("n_without_orders"),
          sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("n_orphan_orders"),
          coalesce(sum(col("n_orders")), lit(0L)).as("orders_total"))
        .orderBy(col("c_nationkey"))
    },
      """WITH co AS (
        |  SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY 1)
        |SELECT c_nationkey, count(*) AS n_keys,
        |  CAST(sum(CASE WHEN co.o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_without_orders,
        |  CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan_orders,
        |  CAST(coalesce(sum(co.n_orders), 0) AS BIGINT) AS orders_total
        |FROM customer c FULL OUTER JOIN co ON c.c_custkey = co.o_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin),

    // Hopping (sliding) windows in batch: 1h windows every 30min via a
    // map-only explode of the window starts each event falls into.
    QueryDef("hopping_windows", (s, dir) => {
      val winSec = 3600L
      val hopSec = 1800L
      Tables.events(s, dir)
        .select(col("event_type"), col("value"),
          Tables.eventSeconds.as("tss"))
        .withColumn("w_start", explode(sequence(
          (col("tss") - (winSec - hopSec)).cast("long") -
            pmod(col("tss") - (winSec - hopSec), lit(hopSec)),
          col("tss") - pmod(col("tss"), lit(hopSec)),
          lit(hopSec))))
        .groupBy(col("w_start"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
        .orderBy(col("w_start"), col("event_type"))
    },
      """WITH e AS (
        |  SELECT event_type, value, CAST(floor(epoch(ts)) AS BIGINT) AS tss
        |  FROM events),
        |w AS (
        |  SELECT event_type, value,
        |    unnest(generate_series(
        |      tss - 1800 - ((tss - 1800) % 1800),
        |      tss - (tss % 1800), 1800)) AS w_start
        |  FROM e)
        |SELECT w_start, event_type, count(*) AS n, round(sum(value), 2) AS total
        |FROM w GROUP BY w_start, event_type ORDER BY w_start, event_type""".stripMargin),

    // Running windows: per-customer cumulative order value + previous
    // order's value (lag) over the order sequence.
    QueryDef("window_running", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .withColumn("running_total",
          round(sum(col("o_totalprice")).over(
            w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)), 2))
        .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
        .withColumn("order_rank", row_number().over(w))
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("price"),
          col("running_total"), round(col("prev_price"), 2).as("prev_price"),
          col("order_rank"))
        .orderBy(col("o_orderkey"))
    },
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |    ROWS UNBOUNDED PRECEDING), 2) AS running_total,
        |  round(lag(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderkey), 2) AS prev_price,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS order_rank
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // Exact interpolated percentiles per group (sort-based aggregate).
    QueryDef("percentile_stats", (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.25)"), 2).as("p25"),
          round(expr("percentile(l_quantity, 0.5)"), 2).as("p50"),
          round(expr("percentile(l_quantity, 0.75)"), 2).as("p75"),
          round(avg(col("l_quantity")), 2).as("mean_qty"))
        .orderBy(col("l_returnflag")),
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.25), 2) AS p25,
        |  round(quantile_cont(l_quantity, 0.5), 2) AS p50,
        |  round(quantile_cont(l_quantity, 0.75), 2) AS p75,
        |  round(avg(l_quantity), 2) AS mean_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // Pivot: per-user event counts spread across event-type columns.
    QueryDef("pivot_events", (s, dir) =>
      Tables.events(s, dir)
        .filter(col("user_id") < 20)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("user_id")),
      """SELECT user_id,
        |  count(*) FILTER (WHERE event_type = 'click') AS "click",
        |  count(*) FILTER (WHERE event_type = 'view') AS "view",
        |  count(*) FILTER (WHERE event_type = 'purchase') AS "purchase",
        |  count(*) FILTER (WHERE event_type = 'signup') AS "signup",
        |  count(*) FILTER (WHERE event_type = 'error') AS "error"
        |FROM events WHERE user_id < 20
        |GROUP BY user_id ORDER BY user_id""".stripMargin),

    // Array aggregation: sorted distinct users per event type, emitted as a
    // canonical comma-joined string (deterministic via sort_array, and a
    // scalar the oracle's pandas gate can hash — a raw array column is not).
    QueryDef("array_agg", (s, dir) =>
      Tables.events(s, dir)
        .filter(col("user_id") < 25)
        .groupBy(col("event_type"))
        .agg(concat_ws(",", sort_array(collect_set(col("user_id")))).as("users"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type")),
      """SELECT event_type,
        |  array_to_string(list_sort(list(DISTINCT user_id)), ',') AS users,
        |  count(*) AS n
        |FROM events WHERE user_id < 25
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Approximate sketches (HLL distinct + approx quantiles), driver-checkable:
    // approximation algorithms differ across engines by design, so the approx
    // values feed only tolerance BOOLEANS computed against exact aggregates
    // that both engines replay identically. The oracle emits the same exact
    // values with the booleans as TRUE constants — sketch drift beyond
    // tolerance flips Spark's boolean and fails the hash gate, which is
    // exactly the regression this query guards (FunctionsSpec pins the same
    // bounds at spec level). hll_ok uses 3× the default HLL rsd (0.05);
    // median_ok brackets approx_percentile(0.5) by the exact 0.45/0.55
    // quantiles.
    // Plan note: the exact distinct-count runs as its OWN codegen'd
    // hash aggregate and broadcast-joins the 5-row sketch aggregate —
    // putting countDistinct in the same agg forces Catalyst's
    // distinct-rewrite to carry the HLL + percentile OBJECT buffers per
    // (event_type, user_id) group through three ObjectHashAggregate
    // passes and two exchanges (measured 4.2 s warm; this shape ~1 s).
    QueryDef("approx_sketches", (s, dir) => {
      val ev = Tables.events(s, dir)
      val sketches = ev.groupBy(col("event_type"))
        .agg(
          approx_count_distinct(col("user_id")).as("au"),
          expr("approx_percentile(value, 0.5)").as("am"),
          expr("percentile(value, 0.45)").as("q45"),
          expr("percentile(value, 0.55)").as("q55"))
      val exact = ev.select(col("event_type"), col("user_id")).distinct()
        .groupBy(col("event_type")).agg(count(lit(1)).as("exact_users"))
      exact.join(broadcast(sketches), Seq("event_type"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("au") - col("exact_users")) <= col("exact_users") * 3 * 0.05)
            .as("hll_ok"),
          (col("am") >= col("q45") && col("am") <= col("q55")).as("median_ok"))
        .orderBy(col("event_type"))
    },
      // approx_sketches: DuckDB replays only the EXACT side; the tolerance
      // booleans are constants here because a correct sketch must land inside
      // them — Spark-side drift fails the hash compare.
      """SELECT event_type,
        |  count(DISTINCT user_id) AS exact_users,
        |  TRUE AS hll_ok,
        |  TRUE AS median_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Custom native aggregate: exact mergeable top-k with k-bounded heap
    // partial state (never collects a group's full value set). The
    // TypedImperativeAggregate path — O(log k) in-place updates, buffer
    // serialized only at shuffle boundaries; the typed Aggregator variant
    // survives as the spec-level equality pin (FunctionsSpec).
    QueryDef("agg_topk", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(graft.functions.GraftFunctions.top_k(col("event_id"), col("value"), 3).as("topk"))
        .select(col("event_type"), posexplode(col("topk")))
        .select(col("event_type"), (col("pos") + 1).cast("int").as("rank"),
          col("col.id").as("event_id"), col("col.value").as("value"))
        .orderBy(col("event_type"), col("rank")),
      """SELECT * FROM (
        |  SELECT event_type,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rank,
        |    event_id, value
        |  FROM events)
        |WHERE rank <= 3 ORDER BY event_type, rank""".stripMargin),

    // Pareto frontier of users on (total value, event count): sort-based
    // skyline — local prefilter per partition, exact pass over survivors
    // only; dominance compares pre-rounded doubles so both engines rank
    // identical values.
    QueryDef("skyline_users", (s, dir) => {
      val u = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(round(sum(col("value")), 2).as("total"), count(lit(1)).as("n"))
      graft.operators.Skyline.pareto2D(u, "total", "n")
        .orderBy(col("total").desc, col("n").desc, col("user_id"))
    },
      """WITH u AS (
        |  SELECT user_id, round(sum(value), 2) AS total, count(*) AS n
        |  FROM events GROUP BY user_id)
        |SELECT total, n, user_id FROM u a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM u b
        |  WHERE b.total >= a.total AND b.n >= a.n
        |    AND (b.total > a.total OR b.n > a.n))
        |ORDER BY total DESC, n DESC, user_id""".stripMargin),

    // Deep multi-join (TPC-H Q5 flavor): 6-table snowflake with the
    // local-supplier correlation (s_nationkey = c_nationkey) — Catalyst
    // orders the joins and broadcasts the small dims; the fact table
    // never shuffles more than once per join key.
    QueryDef("q5_region_revenue", (s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
        .filter(year(col("o_orderdate")) === 1995)
        .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .join(Tables.supplier(s, dir),
          col("l_suppkey") === col("s_suppkey") &&
            col("s_nationkey") === col("c_nationkey"))
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("r_name"), col("n_name")),
      """SELECT r_name, n_name,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey AND year(o_orderdate) = 1995
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin),

    // Correlated subqueries through the SQL front door: EXISTS and NOT
    // EXISTS decorrelate to semi/anti joins in the optimized plan.
    QueryDef("exists_subquery", (s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("customer_v")
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      s.sql("""SELECT c_mktsegment, count(*) AS n_custs
              |FROM customer_v c
              |WHERE EXISTS (SELECT 1 FROM orders_v o
              |              WHERE o.o_custkey = c.c_custkey
              |                AND year(o.o_orderdate) = 1995)
              |  AND NOT EXISTS (SELECT 1 FROM orders_v o2
              |                  WHERE o2.o_custkey = c.c_custkey
              |                    AND year(o2.o_orderdate) = 1997)
              |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    },
      """SELECT c_mktsegment, count(*) AS n_custs
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND year(o.o_orderdate) = 1995)
        |  AND NOT EXISTS (SELECT 1 FROM orders o2
        |                  WHERE o2.o_custkey = c.c_custkey
        |                    AND year(o2.o_orderdate) = 1997)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // Rank-family windows in one pass: rank / dense_rank / percent_rank /
    // cume_dist over the same deterministic per-type ordering.
    QueryDef("window_ranks", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
        .orderBy(col("value").desc, col("event_id"))
      Tables.events(s, dir)
        .filter(col("user_id") < 5)
        .select(col("event_type"), col("event_id"), round(col("value"), 2).as("value"))
        .withColumn("rnk", rank().over(w))
        .withColumn("drnk", dense_rank().over(w))
        .withColumn("prnk", round(percent_rank().over(w), 6))
        .withColumn("cdist", round(cume_dist().over(w), 6))
        .orderBy(col("event_type"), col("rnk"), col("event_id"))
    },
      """SELECT event_type, event_id, round(value, 2) AS value,
        |  rank() OVER w AS rnk, dense_rank() OVER w AS drnk,
        |  round(percent_rank() OVER w, 6) AS prnk,
        |  round(cume_dist() OVER w, 6) AS cdist
        |FROM events WHERE user_id < 5
        |WINDOW w AS (PARTITION BY event_type ORDER BY value DESC, event_id)
        |ORDER BY event_type, rnk, event_id""".stripMargin),

    // Array higher-order functions over the embedding corpus: filter /
    // exists / strict-fold aggregate / array_max in one map-only pass.
    QueryDef("array_analytics", (s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("vec_id"),
          size(filter(col("embedding"), x => x > 0)).as("n_pos"),
          round(aggregate(col("embedding"), lit(0.0),
            (a, x) => a + abs(x.cast("double"))), 6).as("l1_norm"),
          round(array_max(col("embedding")).cast("double"), 6).as("max_val"),
          exists(col("embedding"), x => x > 0.2).as("has_big"))
        .orderBy(col("vec_id")),
      s"""WITH ${Oracles.vectors}
        |SELECT vec_id,
        |  CAST(len(list_filter(v, x -> x > 0)) AS INT) AS n_pos,
        |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list_transform(v, x -> abs(x))), (a, x) -> a + x), 6) AS l1_norm,
        |  round(list_max(v), 6) AS max_val,
        |  len(list_filter(v, x -> x > 0.2)) > 0 AS has_big
        |FROM e ORDER BY vec_id""".stripMargin),

    // regexp_extract_all over the JSON props: every digit run, exploded
    // and aggregated per event type.
    QueryDef("regex_numbers", (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"),
          explode(regexp_extract_all(col("props"), lit("[0-9]+"), lit(0))).as("num"))
        .select(col("event_type"), col("num").cast("long").as("v"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("total"),
          min(col("v")).as("min_v"), max(col("v")).as("max_v"))
        .orderBy(col("event_type")),
      """WITH x AS (
        |  SELECT event_type,
        |    CAST(unnest(regexp_extract_all(props, '[0-9]+')) AS BIGINT) AS v
        |  FROM events)
        |SELECT event_type, count(*) AS n, CAST(sum(v) AS BIGINT) AS total,
        |  min(v) AS min_v, max(v) AS max_v
        |FROM x GROUP BY event_type ORDER BY event_type""".stripMargin),

    // MERGE upsert: apply a change batch (updates + CDC delete markers +
    // inserts) to a snapshot in one full-outer shuffle join on the key.
    QueryDef("merge_upsert", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      val target = ev.where(col("event_id") % 3 =!= 0)
      val source = ev.where(col("event_id") % 2 === 0)
        .withColumn("value", col("value") + 100)
      Merge.upsert(target, source, Seq("event_id"),
          deleteWhen = Some(col("event_type") === "error"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          round(col("value"), 2).as("value"), col("op"))
        .orderBy(col("event_id"))
    },
      """WITH ev AS (SELECT event_id, user_id, event_type, value FROM events),
        |t AS (SELECT * FROM ev WHERE event_id % 3 != 0),
        |s AS (SELECT event_id, user_id, event_type, value + 100 AS value
        |      FROM ev WHERE event_id % 2 = 0)
        |SELECT coalesce(s.event_id, t.event_id) AS event_id,
        |  CASE WHEN s.event_id IS NOT NULL THEN s.user_id ELSE t.user_id END AS user_id,
        |  CASE WHEN s.event_id IS NOT NULL THEN s.event_type ELSE t.event_type END AS event_type,
        |  round(CASE WHEN s.event_id IS NOT NULL THEN s.value ELSE t.value END, 2) AS value,
        |  CASE WHEN s.event_id IS NOT NULL AND t.event_id IS NOT NULL THEN 'updated'
        |       WHEN t.event_id IS NULL THEN 'inserted' ELSE 'kept' END AS op
        |FROM t FULL JOIN s ON t.event_id = s.event_id
        |WHERE NOT (s.event_id IS NOT NULL AND s.event_type = 'error')
        |ORDER BY event_id""".stripMargin),

    // Three-valued-logic breadth: injected nulls handled with coalesce /
    // nullif / null-safe equality / na.fill, and null-aware aggregates.
    QueryDef("null_handling", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"),
          when(col("event_id") % 5 === 0, lit(null)).otherwise(col("value"))
            .cast("double").as("v"))
      ev.withColumn("v_filled", coalesce(col("v"), lit(-1.0)))
        .withColumn("v_nz", nullif(col("v_filled"), lit(-1.0)))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"), count(col("v")).as("n_nonnull"),
          sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_null"),
          round(sum(col("v_filled")), 2).as("sum_filled"),
          round(avg(col("v_nz")), 4).as("avg_nonnull"),
          sum(when(col("v") <=> lit(null), 1L).otherwise(0L)).as("n_nullsafe_eq"))
        .orderBy(col("event_type"))
    },
      """WITH ev AS (
        |  SELECT event_id, event_type,
        |    CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v
        |  FROM events),
        |x AS (SELECT *, coalesce(v, -1.0) AS v_filled,
        |        nullif(coalesce(v, -1.0), -1.0) AS v_nz FROM ev)
        |SELECT event_type, count(*) AS n_rows, count(v) AS n_nonnull,
        |  CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |  round(sum(v_filled), 2) AS sum_filled,
        |  round(avg(v_nz), 4) AS avg_nonnull,
        |  CAST(sum(CASE WHEN v IS NOT DISTINCT FROM NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_nullsafe_eq
        |FROM x GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Date/time function breadth: truncation, month arithmetic, day
    // deltas, end-of-month, and cross-engine-aligned day-of-week.
    QueryDef("date_functions", (s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
        .withColumn("order_month", date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd"))
        .withColumn("plus_quarter", date_format(add_months(col("o_orderdate"), 3), "yyyy-MM-dd"))
        .withColumn("month_end", date_format(last_day(col("o_orderdate")), "yyyy-MM-dd"))
        .withColumn("days_to_1997", datediff(lit("1997-01-01").cast("date"), col("o_orderdate")))
        .withColumn("dow", dayofweek(col("o_orderdate")))
        .groupBy(col("order_month"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"),
          min(col("plus_quarter")).as("first_plus_q"),
          max(col("month_end")).as("month_end"),
          min(col("days_to_1997")).as("min_days_to_1997"),
          countDistinct(col("dow")).as("n_dows"))
        .orderBy(col("order_month")),
      """WITH o AS (
        |  SELECT o_orderkey, o_totalprice,
        |    strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS order_month,
        |    strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus_quarter,
        |    strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
        |    date_diff('day', CAST(o_orderdate AS DATE), DATE '1997-01-01') AS days_to_1997,
        |    (isodow(o_orderdate) % 7) + 1 AS dow
        |  FROM orders)
        |SELECT order_month, count(*) AS n, round(sum(o_totalprice), 2) AS total,
        |  min(plus_quarter) AS first_plus_q, max(month_end) AS month_end,
        |  min(days_to_1997) AS min_days_to_1997, count(DISTINCT dow) AS n_dows
        |FROM o GROUP BY 1 ORDER BY 1""".stripMargin),

    // Aggregate-function breadth: deterministic arg-max/arg-min via
    // struct ordering (ties break on id), count_if / bool_or / bool_and,
    // and the exact interpolated median — one hash agg pass.
    QueryDef("agg_misc", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          max(struct(col("value"), col("event_id"))).getField("event_id").as("max_event"),
          min(struct(col("value"), col("event_id"))).getField("event_id").as("min_event"),
          count_if(col("value") > 300).as("n_big"),
          bool_or(col("value") > 590).as("any_huge"),
          bool_and(col("value") >= 0).as("all_nonneg"),
          round(median(col("value")), 2).as("med"))
        .orderBy(col("event_type")),
      """SELECT event_type,
        |  (max(struct_pack(v := value, id := event_id))).id AS max_event,
        |  (min(struct_pack(v := value, id := event_id))).id AS min_event,
        |  CAST(count_if(value > 300) AS BIGINT) AS n_big,
        |  bool_or(value > 590) AS any_huge,
        |  bool_and(value >= 0) AS all_nonneg,
        |  round(median(value), 2) AS med
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Snapshot diff: v2 drops error events, bumps every 7th value, and
    // adds synthetic rows — the diff reports exactly those keys, change-
    // sized output from one full-outer key join.
    QueryDef("table_diff", (s, dir) => {
      val v1 = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val v2 = Tables.events(s, dir)
        .where(col("event_type") =!= "error")
        .select(col("event_id"), col("event_type"),
          (col("value") + when(col("event_id") % 7 === 0, 10.0).otherwise(0.0)).as("value"))
        .union(Tables.events(s, dir).where(col("event_id") % 1000 === 0)
          .select((col("event_id") + 1000000L).as("event_id"),
            lit("synthetic").as("event_type"), lit(1.0).as("value")))
      graft.operators.Diff.byKey(v1, v2, Seq("event_id"))
        .orderBy(col("event_id"))
    },
      """WITH v1 AS (SELECT event_id, event_type, value FROM events),
        |v2 AS (
        |  SELECT event_id, event_type,
        |    value + CASE WHEN event_id % 7 = 0 THEN 10.0 ELSE 0.0 END AS value
        |  FROM events WHERE event_type != 'error'
        |  UNION ALL
        |  SELECT event_id + 1000000, 'synthetic', 1.0
        |  FROM events WHERE event_id % 1000 = 0),
        |j AS (
        |  SELECT coalesce(v1.event_id, v2.event_id) AS event_id,
        |    CASE WHEN v1.event_id IS NULL THEN 'added'
        |         WHEN v2.event_id IS NULL THEN 'removed'
        |         WHEN v1.event_type IS DISTINCT FROM v2.event_type
        |           OR v1.value IS DISTINCT FROM v2.value THEN 'changed'
        |    END AS op
        |  FROM v1 FULL JOIN v2 ON v1.event_id = v2.event_id)
        |SELECT event_id, op FROM j WHERE op IS NOT NULL
        |ORDER BY event_id""".stripMargin),

    // Interval coalescing: each user's ±30-min activity spans merged into
    // maximal disjoint busy intervals (gaps-and-islands, one shuffle).
    QueryDef("interval_merge", (s, dir) => {
      val iv = Tables.events(s, dir)
        .select(col("user_id"), Tables.eventSeconds.as("start_sec"))
        .withColumn("end_sec", col("start_sec") + 1800)
      Intervals.coalesce(iv, "user_id", "start_sec", "end_sec")
        .orderBy(col("user_id"), col("start_sec"))
    },
      """WITH iv AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS start_sec,
        |    CAST(floor(epoch(ts)) AS BIGINT) + 1800 AS end_sec FROM events),
        |m AS (
        |  SELECT user_id, start_sec, end_sec,
        |    max(end_sec) OVER (PARTITION BY user_id ORDER BY start_sec, end_sec
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM iv),
        |fl AS (SELECT *, CASE WHEN prev_end IS NULL OR start_sec > prev_end
        |                 THEN 1 ELSE 0 END AS ni FROM m),
        |isl AS (SELECT *, sum(ni) OVER (PARTITION BY user_id
        |    ORDER BY start_sec, end_sec ROWS UNBOUNDED PRECEDING) AS island FROM fl)
        |SELECT user_id, min(start_sec) AS start_sec, max(end_sec) AS end_sec,
        |  count(*) AS n_merged
        |FROM isl GROUP BY user_id, island
        |ORDER BY user_id, start_sec""".stripMargin),

    // First-order Markov transition matrix of event types per user:
    // the sequence shuffles once; the normalizer runs over the |states|²
    // aggregated pairs.
    QueryDef("markov_transitions", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          Tables.eventSeconds.as("tss"), col("event_id"))
      Transitions.matrix(ev, "user_id", Seq("tss", "event_id"), "event_type")
        .orderBy(col("state"), col("next_state"))
    },
      """WITH e AS (
        |  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS tss, event_id
        |  FROM events),
        |nx AS (
        |  SELECT event_type AS state,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY tss, event_id) AS next_state
        |  FROM e),
        |cnt AS (SELECT state, next_state, count(*) AS n FROM nx
        |        WHERE next_state IS NOT NULL GROUP BY 1, 2)
        |SELECT state, next_state, n,
        |  round(n / sum(n) OVER (PARTITION BY state), 6) AS prob
        |FROM cnt ORDER BY state, next_state""".stripMargin),

    // Blocked fuzzy entity matching over document titles (first 24
    // chars — a sparse name space, unlike the 64-value part vocabulary):
    // originals vs a perturbed copy (char 12 replaced) of every 5th
    // title. (length, first-3, last-3) blocking join, banded
    // levenshtein <= 2 verify on candidates only.
    QueryDef("fuzzy_match", (s, dir) => {
      val titles = Tables.documents(s, dir)
        .select(col("doc_id").as("id"), substring(col("text"), 1, 24).as("name"))
        .where(length(col("name")) >= 16)
      val perturbed = titles.where(col("id") % 5 === 0)
        .select((col("id") + 1000000L).as("id"),
          concat(substring(col("name"), 1, 11), lit("x"),
            expr("substring(name, 13)")).as("name"))
      graft.operators.FuzzyMatch.blocked(titles, perturbed, "id", "name",
          prefixLen = 3, suffixLen = 3, maxDist = 2)
        .orderBy(col("id_a"), col("id_b"))
    }, {
      val bk = "CAST(length(name) AS VARCHAR) || '|' || substr(name, 1, 3) " +
        "|| '|' || substr(name, greatest(length(name) - 2, 1), 3)"
      s"""WITH titles AS (
         |  SELECT doc_id AS id, substr(text, 1, 24) AS name FROM documents
         |  WHERE length(substr(text, 1, 24)) >= 16),
         |pert AS (
         |  SELECT id + 1000000 AS id,
         |    substr(name, 1, 11) || 'x' || substr(name, 13) AS name
         |  FROM titles WHERE id % 5 = 0),
         |l AS (SELECT id AS id_a, name AS name_a, $bk AS bk FROM titles),
         |r AS (SELECT id AS id_b, name AS name_b, $bk AS bk FROM pert)
         |SELECT id_a, name_a, id_b, name_b,
         |  levenshtein(name_a, name_b) AS dist
         |FROM l JOIN r USING (bk)
         |WHERE id_a != id_b AND levenshtein(name_a, name_b) <= 2
         |ORDER BY id_a, id_b""".stripMargin
    }),

    // One-pass multi-column table profile (ANALYZE-style catalog stats):
    // count/nulls/exact-ndv/min/max/avg per measure, melted long-form.
    QueryDef("column_profile", (s, dir) =>
      graft.operators.Profile.numeric(Tables.lineitem(s, dir),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy(col("column_name")), {
      def one(c: String) =
        s"""SELECT '$c' AS column_name, count($c) AS n,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |  count(DISTINCT $c) AS ndv,
           |  CAST(min($c) AS DOUBLE) AS min_val, CAST(max($c) AS DOUBLE) AS max_val,
           |  round(avg($c), 4) AS avg_val FROM lineitem""".stripMargin
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .map(one).mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
    }),

    // k-anonymity risk gate: QI equivalence classes smaller than k
    // re-identify their members by linkage — the privacy audit a
    // user-derived training-data release runs. One map-side-combined
    // aggregation on the QI key; total rows from a classes-sized
    // re-aggregation, never a second input scan.
    QueryDef("kanon_risk", (s, dir) =>
      graft.operators.Profile.kAnonymityRisk(
          Tables.customer(s, dir), Seq("c_nationkey", "c_mktsegment"), k = 8)
        .orderBy(col("c_nationkey"), col("c_mktsegment")),
      """WITH cls AS (
        |  SELECT c_nationkey, c_mktsegment, count(*) AS class_size
        |  FROM customer GROUP BY 1, 2)
        |SELECT c_nationkey, c_mktsegment, class_size,
        |  round(class_size / (SELECT CAST(sum(class_size) AS DOUBLE) FROM cls), 6)
        |    AS risk_share
        |FROM cls WHERE class_size < 8
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin),

    // Declarative data-quality gate: all row checks + uniqueness fold
    // into ONE aggregation pass; the FK check is one anti-join.
    QueryDef("dq_checks", (s, dir) => {
      import graft.operators.DqChecks._
      checks(Tables.orders(s, dir),
        rowChecks = Seq(
          RowCheck("not_null", "o_custkey", col("o_custkey").isNull),
          RowCheck("in_range", "o_totalprice",
            col("o_totalprice") < 0 || col("o_totalprice") > 1000000),
          RowCheck("accepted_values", "o_orderstatus",
            !col("o_orderstatus").isin("O", "F", "P"))),
        uniqueCols = Seq("o_orderkey"),
        fks = Seq(FkCheck("fk_customer", "o_custkey",
          Tables.customer(s, dir), "c_custkey")))
        .orderBy(col("check_name"), col("column_name"))
    },
      """WITH m AS (
        |  SELECT
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS cust_nulls,
        |    CAST(sum(CASE WHEN o_totalprice < 0 OR o_totalprice > 1000000
        |      THEN 1 ELSE 0 END) AS BIGINT) AS price_oob,
        |    CAST(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS status_bad,
        |    CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT) AS key_dups
        |  FROM orders),
        |fk AS (
        |  SELECT CAST(count(*) AS BIGINT) AS orphans FROM orders o
        |  WHERE o.o_custkey IS NOT NULL AND NOT EXISTS (
        |    SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
        |rows_out AS (
        |  SELECT 'not_null' AS check_name, 'o_custkey' AS column_name,
        |    cust_nulls AS violations FROM m
        |  UNION ALL
        |  SELECT 'in_range', 'o_totalprice', price_oob FROM m
        |  UNION ALL
        |  SELECT 'accepted_values', 'o_orderstatus', status_bad FROM m
        |  UNION ALL
        |  SELECT 'unique', 'o_orderkey', key_dups FROM m
        |  UNION ALL
        |  SELECT 'fk_customer', 'o_custkey', orphans FROM fk)
        |SELECT check_name, column_name, violations, violations = 0 AS passed
        |FROM rows_out ORDER BY check_name, column_name""".stripMargin),

    // Deterministic per-group reservoir: 3 events per type, ranked by the
    // portable mixed hash — reproducible under repartition/re-ingestion.
    QueryDef("reservoir_group", (s, dir) =>
      Sampling.reservoirByGroup(
          Tables.events(s, dir)
            .select(col("event_id"), col("user_id"), col("event_type"), col("value")),
          Seq("event_type"), col("event_id"), 3)
        .select(col("event_type"), col("sample_rank"), col("event_id"),
          col("user_id"), round(col("value"), 2).as("value"))
        .orderBy(col("event_type"), col("sample_rank")), {
      val rk = s"(${Oracles.polyHash("CAST(event_id AS VARCHAR)")} * " +
        s"${graft.operators.Sampling.MixA}) % ${Oracles.P}"
      s"""WITH h AS (
         |  SELECT event_type, event_id, user_id, value, $rk AS rk FROM events),
         |r AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY event_type ORDER BY rk, event_id) AS sample_rank
         |  FROM h)
         |SELECT event_type, sample_rank, event_id, user_id,
         |  round(value, 2) AS value
         |FROM r WHERE sample_rank <= 3
         |ORDER BY event_type, sample_rank""".stripMargin
    })
  )


  /** The batch SCD2 build over the whole changelog, which the incremental
    * `scd2_merge` must reproduce row for row.
    */
  private lazy val scd2Oracle: String =
    """WITH e AS (
      |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS tss, event_id,
      |    event_type FROM events),
      |c AS (
      |  SELECT *, lag(event_type) OVER (
      |    PARTITION BY user_id ORDER BY tss, event_id) AS prev
      |  FROM e),
      |f AS (
      |  SELECT user_id, tss, event_id, event_type FROM c
      |  WHERE prev IS NULL OR prev <> event_type),
      |v AS (
      |  SELECT user_id, event_type, tss AS valid_from,
      |    lead(tss) OVER (PARTITION BY user_id ORDER BY tss, event_id) AS valid_to
      |  FROM f)
      |SELECT user_id, event_type, valid_from, valid_to,
      |  CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
      |FROM v ORDER BY user_id, valid_from""".stripMargin

  /** The part<->supplier bipartite graph of lineitem: parts at even ids,
    * suppliers at odd, one edge each way per distinct pair.
    */
  private def partSupplierEdges(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.lineitem(s, dir)
      .select(col("l_partkey").as("p"), col("l_suppkey").as("sk")).distinct()
    pairs.select((col("p") * 2).as("src"), (col("sk") * 2 + 1).as("dst"))
      .union(pairs.select((col("sk") * 2 + 1).as("src"), (col("p") * 2).as("dst")))
  }

  /** [[partSupplierEdges]] as the CTEs `pairs` and `edges` (src, dst). */
  private lazy val partSupplierEdgeCtes =
    """pairs AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS sk FROM lineitem),
      |edges AS (SELECT p*2 AS src, sk*2+1 AS dst FROM pairs
      |          UNION ALL SELECT sk*2+1, p*2 FROM pairs)""".stripMargin

  /** Replays Graph.deterministicWalks for 3 steps over the distinct
    * (src, dst) edges `ed` that `edgeCtes` defines: step t moves to
    * nbrs[poly_hash(start:t:cur) % degree] of the sorted neighbor list.
    * Each hop inner-joins the adjacency, so a walker at a sink stops
    * contributing rows — the operator's left-join freeze (frozen walkers
    * emit no further steps).
    */
  private def walkOracle(edgeCtes: String): String = {
    def hop(t: Int) =
      s"""SELECT w${t - 1}.start,
         |    a.nbrs[CAST(${Oracles.polyHash(s"(w${t - 1}.start || ':' || $t || ':' || w${t - 1}.cur)")} % length(a.nbrs) AS INT) + 1] AS cur
         |  FROM w${t - 1} JOIN adj a ON w${t - 1}.cur = a.node""".stripMargin
    s"""WITH $edgeCtes,
       |adj AS (SELECT src AS node, list(dst ORDER BY dst) AS nbrs FROM ed GROUP BY 1),
       |w0 AS (SELECT node AS start, node AS cur FROM adj),
       |w1 AS (${hop(1)}),
       |w2 AS (${hop(2)}),
       |w3 AS (${hop(3)})
       |SELECT start, CAST(0 AS INT) AS step, cur AS node FROM w0
       |UNION ALL SELECT start, 1, cur FROM w1
       |UNION ALL SELECT start, 2, cur FROM w2
       |UNION ALL SELECT start, 3, cur FROM w3
       |ORDER BY start, step""".stripMargin
  }
}
