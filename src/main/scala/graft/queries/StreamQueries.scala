package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.functions.GraftFunctions
import graft.streaming.Streaming

/** Structured Streaming operators run to completion with
  * `Trigger.AvailableNow`: windowed and session aggregation, streaming
  * dedup (with and without a stored history or a watermark), enrichment,
  * top-k, stream-stream join and the CEP funnel pattern.
  */
object StreamQueries {

  val defs: Seq[QueryDef] = Seq(
    // All bounded runs pin 8 state partitions: state-store parallelism is
    // a stream-volume knob (see Streaming.runToCompletion) and the verify/
    // bench streams are small; results are partition-count-invariant.
    // Watermarked tumbling-window aggregation; complete mode emits every
    // window on a bounded input.
    QueryDef("stream_window_agg", (s, dir) =>
      Streaming.runToCompletion(
        Streaming.dailyTypeCounts(Streaming.events(s, dir)), OutputMode.Complete(),
        statePartitions = Some(8))
        .orderBy(col("day_start"), col("event_type")),
      """SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_start, event_type,
        |  count(*) AS n_events, round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Built-in session_window aggregation (30-min gap) per user.
    QueryDef("stream_sessions", (s, dir) =>
      Streaming.runToCompletion(
        Streaming.userSessions(Streaming.events(s, dir)), OutputMode.Complete(),
        statePartitions = Some(8))
        .orderBy(col("user_id"), col("session_start")),
      // new session only when the gap STRICTLY exceeds the timeout:
      // Spark's session_window merges adjacent (touching) windows
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS tss FROM events),
        |m AS (
        |  SELECT user_id, event_id, tss,
        |    CASE WHEN lag(tss) OVER (PARTITION BY user_id ORDER BY tss, event_id) IS NULL
        |         OR tss - lag(tss) OVER (PARTITION BY user_id ORDER BY tss, event_id) > 1800
        |    THEN 1 ELSE 0 END AS new_s
        |  FROM e),
        |g AS (
        |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY tss, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sid FROM m)
        |SELECT user_id, min(tss) AS session_start, max(tss) + 1800 AS session_end,
        |  count(*) AS n_events, min(event_id) AS first_event, max(event_id) AS last_event
        |FROM g GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin),

    // Streaming exact dedup of a doubled stream — each event exactly once.
    QueryDef("stream_dedup", (s, dir) => {
      val doubled = Streaming.events(s, dir).union(Streaming.events(s, dir))
      Streaming.runToCompletion(Streaming.dedupEvents(doubled), OutputMode.Append(),
        statePartitions = Some(8))
        .orderBy(col("event_id"))
    },
      """SELECT event_id, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin),

    // Streaming incremental dedup: the bookmark-delta dedup as a
    // continuous pipeline — arriving docs check a STORED fingerprint
    // store (stream-static join, store parquet written then re-read) and
    // dedupe within the stream via fingerprint state. Emits each novel
    // fingerprint exactly once; oracle = batch set algebra.
    QueryDef("stream_incr_dedup", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val mid = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      val storeDir = graft.TempDirs.create("graft-fpstore")
      docs.filter(col("doc_id") <= mid)
        .select(GraftFunctions.poly_hash(col("text")).as("fingerprint"))
        .distinct()
        .write.mode("overwrite").parquet(storeDir)
      Streaming.runToCompletion(
        Streaming.incrementalDedup(
          Streaming.documents(s, dir).filter(col("doc_id") > mid),
          s.read.parquet(storeDir)),
        OutputMode.Append(), statePartitions = Some(8))
        .orderBy(col("fingerprint"))
    },
      s"""WITH mx AS (SELECT max(doc_id) // 2 AS mid FROM documents),
         |hist AS (
         |  SELECT DISTINCT ${Oracles.polyHash("text")} AS fingerprint
         |  FROM documents WHERE doc_id <= (SELECT mid FROM mx)),
         |delta AS (
         |  SELECT DISTINCT ${Oracles.polyHash("text")} AS fingerprint
         |  FROM documents WHERE doc_id > (SELECT mid FROM mx))
         |SELECT fingerprint FROM delta
         |WHERE fingerprint NOT IN (SELECT fingerprint FROM hist)
         |ORDER BY fingerprint""".stripMargin),

    // Stream-static enrichment: stateless broadcast join to the customer
    // dimension, per-segment aggregate in complete mode.
    QueryDef("stream_enrich", (s, dir) =>
      Streaming.runToCompletion(
        Streaming.enrichedSegments(Streaming.events(s, dir), Tables.customer(s, dir)),
        OutputMode.Complete(), statePartitions = Some(8))
        .orderBy(col("segment")),
      """SELECT c_mktsegment AS segment, count(*) AS n_events,
        |  round(sum(value), 2) AS total_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Bounded-state streaming dedup: dropDuplicatesWithinWatermark — the
    // unbounded-stream-safe variant of stream_dedup (state expires after
    // the disorder bound; the doubled stream's duplicates are identical
    // timestamps, so all are caught).
    QueryDef("stream_dedup_wm", (s, dir) => {
      val doubled = Streaming.events(s, dir).union(Streaming.events(s, dir))
      Streaming.runToCompletion(
        Streaming.dedupEventsWithinWatermark(doubled), OutputMode.Append(),
        statePartitions = Some(8))
        .orderBy(col("event_id"))
    },
      // duplicates in the doubled stream carry identical event times, so
      // the within-watermark dedup catches every one of them
      """SELECT event_id, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin),

    // Streaming windowed top-k through the custom k-bounded-heap
    // aggregate: O(k) streaming state per day, not a day's event buffer.
    QueryDef("stream_topk", (s, dir) =>
      Streaming.runToCompletion(
        Streaming.dailyTopK(Streaming.events(s, dir), 3), OutputMode.Complete(),
        statePartitions = Some(8))
        .orderBy(col("day_start"), col("rank")),
      """WITH e AS (
        |  SELECT event_id, value,
        |    CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_start
        |  FROM events),
        |r AS (
        |  SELECT day_start, event_id, value, row_number() OVER (
        |    PARTITION BY day_start ORDER BY value DESC, event_id) AS rank
        |  FROM e)
        |SELECT day_start, rank, event_id, round(value, 2) AS value
        |FROM r WHERE rank <= 3 ORDER BY day_start, rank""".stripMargin),

    // Stream-stream interval join with state bounded by watermarks +
    // the join's event-time range.
    QueryDef("stream_join", (s, dir) =>
      Streaming.runToCompletion(
        Streaming.clickToPurchase(Streaming.events(s, dir)), OutputMode.Append(),
        statePartitions = Some(8))
        .orderBy(col("click_id"), col("purchase_id")),
      """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
        |  CAST(floor(epoch(c.ts)) AS BIGINT) AS click_sec,
        |  CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_sec
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        |  AND c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND floor(epoch(p.ts)) >= floor(epoch(c.ts))
        |  AND floor(epoch(p.ts)) <= floor(epoch(c.ts)) + 3600
        |ORDER BY click_id, purchase_id""".stripMargin),

    // Streaming CEP: same tightest-chain pattern semantics as
    // pattern_funnel, as k-1 longs of per-user flatMapGroupsWithState
    // state; matches materialize in Append mode, then batch-aggregate.
    QueryDef("stream_pattern", (s, dir) => {
      import s.implicits._
      val ev = Streaming.events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          Tables.eventSeconds.as("tss"))
        .as[Streaming.PatternEvent]
      Streaming.runToCompletion(
        Streaming.matchPattern(ev, Seq("click", "view", "purchase"), 86400).toDF(),
        OutputMode.Append(), statePartitions = Some(8))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_matches"),
          min(struct(col("end_sec"), col("end_event"), col("span"))).as("_f"))
        .select(col("user_id"), col("n_matches"),
          col("_f.end_sec").as("first_end_sec"), col("_f.span").as("first_span_sec"))
        .orderBy(col("user_id"))
    }, patternChainSql)
  )

  private[queries] lazy val patternChainSql: String =
    """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS tss
        |  FROM events),
        |s0 AS (
        |  SELECT *, CASE WHEN event_type = 'click' THEN tss END AS c0 FROM e),
        |s1 AS (
        |  SELECT *, CASE WHEN event_type = 'view' THEN
        |    last_value(CASE WHEN event_type = 'click' THEN c0 END IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY tss, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) END AS c1
        |  FROM s0),
        |s2 AS (
        |  SELECT *, CASE WHEN event_type = 'purchase' THEN
        |    last_value(CASE WHEN event_type = 'view' THEN c1 END IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY tss, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) END AS c2
        |  FROM s1),
        |m AS (
        |  SELECT user_id, tss, event_id, tss - c2 AS span FROM s2
        |  WHERE event_type = 'purchase' AND c2 IS NOT NULL AND tss - c2 <= 86400),
        |r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id ORDER BY tss, event_id) AS rn FROM m),
        |agg AS (SELECT user_id, count(*) AS n_matches FROM m GROUP BY user_id)
        |SELECT a.user_id, a.n_matches,
        |  r.tss AS first_end_sec, r.span AS first_span_sec
        |FROM agg a JOIN r ON a.user_id = r.user_id AND r.rn = 1
        |ORDER BY a.user_id""".stripMargin
}
