package graft
package queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Multimodal

/** Storage formats and layouts: CSV/JSON/XML/ORC roundtrips, JSON and
  * VARIANT extraction with bad-record quarantine, small-file compaction,
  * dynamic partition overwrite, schema evolution, bucketed and Z-ordered
  * layouts, partition pruning, a DataSource V2 source and the binary
  * multimodal payload columns.
  */
object LayoutQueries {

  val defs: Seq[QueryDef] = Seq(
    // Custom DataSource V2 generator source with real column pruning and
    // id-range filter pushdown (the range narrows inside the source, so
    // the predicate skips whole input partitions like row-group pruning).
    QueryDef("seq_source", (s, _) =>
      s.read.format("graft.sources.SeqSource")
        .option("rows", "100000").option("partitions", "16").load()
        .filter(col("id") >= 25000 && col("id") < 75000)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), round(sum(col("val")), 2).as("total"),
          min(col("id")).as("min_id"), max(col("id")).as("max_id"))
        .orderBy(col("bucket")),
      s"""WITH s AS (
         |  SELECT i AS id, CAST(i % 97 AS INT) AS bucket,
         |    CAST((i*1103515245 + 12345) % 2147483648 AS DOUBLE)
         |      / CAST(2147483648 AS DOUBLE) AS val
         |  FROM generate_series(25000, 74999) t(i))
         |SELECT bucket, count(*) AS n, round(sum(val), 2) AS total,
         |  min(id) AS min_id, max(id) AS max_id
         |FROM s GROUP BY bucket ORDER BY bucket""".stripMargin),

    // Batched stub decode over binary payloads via mapPartitions
    // (deterministic fake features the oracle replays; see Multimodal).
    QueryDef("multimodal_features", (s, dir) =>
      Multimodal.decodeFeatures(Multimodal.asRecords(Multimodal.media(s, dir)))
        .toDF().orderBy(col("doc_id")),
      s"""WITH m AS (
         |  SELECT doc_id,
         |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
         |    CAST(length(text) AS INT) AS byte_len,
         |    ${Oracles.polyHash("text")} AS checksum,
         |    1000 + (doc_id % 120) * 500 AS duration_ms
         |  FROM documents)
         |SELECT doc_id, media_type, byte_len, checksum,
         |  CAST(64 + checksum % 1024 AS INT) AS width,
         |  CAST(64 + (checksum // 1024) % 1024 AS INT) AS height,
         |  CAST(CASE media_type WHEN 'image' THEN 1 WHEN 'audio' THEN 0
         |       ELSE least(duration_ms // 1000, 8) END AS INT) AS n_frames
         |FROM m ORDER BY doc_id""".stripMargin),

    // Batched stub resize of image payloads (stride subsampling to ~256
    // bytes): binary->binary mapPartitions, partitioning preserved.
    QueryDef("multimodal_resize", (s, dir) =>
      Multimodal.resize(Multimodal.asRecords(
          Multimodal.media(s, dir).filter(col("media_type") === "image")))
        .toDF().orderBy(col("doc_id")),
      // Stride subsampling of the UTF-8 payload == char subsampling on the
      // ASCII corpus; the checksum replays PolyHash over the kept chars.
      s"""WITH m AS (
         |  SELECT doc_id, text, CAST(length(text) AS INT) AS in_len
         |  FROM documents WHERE CAST(doc_id % 3 AS INT) = 0),
         |s AS (
         |  SELECT *, greatest(1, (in_len + 255) // 256) AS stride FROM m)
         |SELECT doc_id, 'image' AS media_type, in_len,
         |  CAST(stride AS INT) AS stride,
         |  CAST((in_len + stride - 1) // stride AS INT) AS out_len,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(range(1, CAST(in_len + 1 AS BIGINT), CAST(stride AS BIGINT)),
         |      i -> CAST(ord(substr(text, CAST(i AS INT), 1)) AS BIGINT))),
         |    (h, c) -> (h * 31 + c) % ${Oracles.P}) AS out_checksum
         |FROM s ORDER BY doc_id""".stripMargin),

    // Perceptual-style near-dup over media payloads: the stub resize is
    // the "thumbnail" (a real pHash replaces Decode.resizeOne's body; the
    // Spark shape is identical) — batched binary->binary mapPartitions,
    // then ONE (type, thumb, len) aggregation over 16-byte signatures.
    // At 100 TB the shuffle carries ~24 bytes/doc, never the payloads;
    // out_len rides in the key as the cross-length collision guard.
    QueryDef("multimodal_dedup", (s, dir) => {
      Multimodal.resize(Multimodal.asRecords(Multimodal.media(s, dir)),
          targetBytes = 16)
        .toDF()
        .groupBy(col("media_type"), col("out_checksum").as("thumb_checksum"),
          col("out_len"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          min(col("doc_id")).as("keep_doc"), max(col("doc_id")).as("max_doc"))
        .filter(col("n_docs") > 1)
        .orderBy(col("media_type"), col("thumb_checksum"))
    },
      // thumbnail dedup replay: 16-byte stride subsample, PolyHash of the
      // kept characters, dup groups per (type, checksum, out_len)
      s"""WITH m AS (
         |  SELECT doc_id, text,
         |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
         |         WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
         |    CAST(length(text) AS INT) AS in_len FROM documents),
         |s AS (SELECT *, greatest(1, (in_len + 15) // 16) AS stride FROM m),
         |t AS (
         |  SELECT doc_id, media_type,
         |    CAST((in_len + stride - 1) // stride AS INT) AS out_len,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(range(1, CAST(in_len + 1 AS BIGINT), CAST(stride AS BIGINT)),
         |        i -> CAST(ord(substr(text, CAST(i AS INT), 1)) AS BIGINT))),
         |      (h, c) -> (h * 31 + c) % ${Oracles.P}) AS thumb_checksum
         |  FROM s)
         |SELECT media_type, thumb_checksum, out_len,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  min(doc_id) AS keep_doc, max(doc_id) AS max_doc
         |FROM t GROUP BY 1, 2, 3 HAVING count(*) > 1
         |ORDER BY media_type, thumb_checksum""".stripMargin),

    // Metadata-driven frame sampling for video payloads — map-only, the
    // binary column is pruned from the scan entirely.
    QueryDef("multimodal_frames", (s, dir) =>
      Multimodal.sampleFrames(Multimodal.media(s, dir))
        .orderBy(col("doc_id"), col("frame_idx")),
      """WITH v AS (
        |  SELECT doc_id, 1000 + (doc_id % 120) * 500 AS duration_ms,
        |    least((1000 + (doc_id % 120) * 500) // 1000, 8) AS n_frames
        |  FROM documents WHERE CAST(doc_id % 3 AS INT) = 2)
        |SELECT doc_id,
        |  unnest(generate_series(0, n_frames - 1)) AS frame_idx,
        |  unnest(generate_series(0, n_frames - 1)) * (duration_ms // n_frames) AS frame_offset_ms
        |FROM v ORDER BY doc_id, frame_idx""".stripMargin),

    // JSON extraction over the props column, aggregated by extracted key.
    // from_json with a declared schema parses each props value ONCE into a
    // struct (get_json_object re-runs a full Jackson parse per extracted
    // path — ~20x slower on wide extraction at scale).
    QueryDef("json_extract", (s, dir) =>
      Tables.events(s, dir)
        .withColumn("k",
          from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k"))
        .groupBy((col("k") % 10).as("k_bucket"))
        .agg(count(lit(1)).as("n"), min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("k_bucket")),
      propsKOracle),

    // The same extraction through Spark 4's VARIANT type: parse once into
    // the binary semi-structured encoding, path-extract with variant_get
    // — schema-on-read without a DDL schema, the modern engine's answer
    // to evolving JSON payloads (vs json_extract's fixed-struct parse).
    // try_parse_json + try_variant_get, not the strict forms: extraction
    // must stay total on malformed payloads AND on well-formed payloads
    // whose $.k is non-numeric — parse_json is FAILFAST (one bad record
    // kills the job) and strict variant_get throws at the int cast on
    // {"k":"x"}, unlike json_extract's permissive from_json which yields
    // null. Both failure classes degrade to NULL here.
    QueryDef("json_variant", (s, dir) =>
      Tables.events(s, dir)
        .withColumn("k", expr("try_variant_get(try_parse_json(props), '$.k', 'int')"))
        .groupBy((col("k") % 10).as("k_bucket"))
        .agg(count(lit(1)).as("n"), min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("k_bucket")),
      propsKOracle),

    // Bad-record routing: parse with a schema, aggregate the valid rows,
    // quarantine the rest with a count (k_bucket = -1) — corrupt input
    // never kills the job and never silently drops. Corruption is
    // synthesized deterministically (event_id % 13) so the oracle replays
    // the same routing.
    QueryDef("json_quarantine", (s, dir) => {
      val parsed = Tables.events(s, dir).select(col("event_id"), col("props"))
        .withColumn("raw", when(col("event_id") % 13 === 0,
          concat(lit("{bad"), col("props"))).otherwise(col("props")))
        .withColumn("k",
          from_json(col("raw"), org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k"))
      // single pass (r6 verdict item 4): the quarantine rows ARE a group —
      // bucket NULL parses to -1 and min/max over an all-NULL k yield NULL
      // for free, so one scan + one from_json + one hash agg replaces the
      // former two-aggregation union that parsed the corpus twice
      parsed.groupBy(when(col("k").isNull, lit(-1))
          .otherwise(col("k") % 10).as("k_bucket"))
        .agg(count(lit(1)).as("n"), min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("k_bucket"))
    },
      // TRY_CAST(raw AS JSON), not a json_valid() filter: DuckDB may
      // evaluate a projection before/alongside the filter, so extraction
      // must itself be total on malformed input.
      """WITH r AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 13 = 0 THEN '{bad' || props ELSE props END AS raw
        |  FROM events),
        |p AS (
        |  SELECT CAST(json_extract_string(TRY_CAST(raw AS JSON), '$.k') AS INT) AS k
        |  FROM r),
        |valid AS (
        |  SELECT CAST(k % 10 AS INT) AS k_bucket, count(*) AS n,
        |    min(k) AS min_k, max(k) AS max_k
        |  FROM p WHERE k IS NOT NULL GROUP BY 1),
        |quarantined AS (
        |  SELECT CAST(-1 AS INT) AS k_bucket, count(*) AS n,
        |    CAST(NULL AS INT) AS min_k, CAST(NULL AS INT) AS max_k
        |  FROM p WHERE k IS NULL)
        |SELECT * FROM valid UNION ALL SELECT * FROM quarantined
        |ORDER BY k_bucket""".stripMargin),

    // CSV source roundtrip: events written as CSV, read back with an
    // explicit schema, aggregated — exercises the text-format reader path.
    QueryDef("csv_roundtrip", (s, dir) => {
      val tmp = graft.TempDirs.create("graft-csv")
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .write.mode("overwrite").option("header", "true").csv(tmp)
      s.read.option("header", "true")
        .schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE")
        .csv(tmp)
        .transform(typeTotals())
    },
      typeTotalsOracle("", "")),

    // Spark 4's built-in XML source, same lossless-roundtrip contract as
    // the CSV/JSON/ORC twins: write with a rowTag, read back with an
    // explicit schema, aggregate — the oracle sees only the original
    // parquet, so any row or value lost in the XML hop fails the hash.
    QueryDef("xml_roundtrip", (s, dir) => {
      val tmp = graft.TempDirs.create("graft-xml")
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .write.mode("overwrite").option("rowTag", "event").format("xml").save(tmp)
      s.read.option("rowTag", "event")
        .schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE")
        .format("xml").load(tmp)
        .transform(typeTotals())
    },
      typeTotalsOracle("", "")),

    // Small-file compaction: 64 trickle-ingested shards rewritten into 2
    // range-clustered, size-targeted files; row count and value checksum
    // prove the rewrite is lossless. The summary is O(1) driver metadata
    // (file counts + two aggregates), never data through the driver.
    QueryDef("compact_files", (s, dir) => {
      import s.implicits._
      val tmp = graft.TempDirs.create("graft-compact")
      val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"), col("value"))
      ev.repartition(64).write.mode("overwrite").parquet(s"$tmp/small")
      val small = s.read.parquet(s"$tmp/small")
      graft.sources.Layout.clusteredWrite(small, s"$tmp/compact", 2,
        maxRecordsPerFile = 10000000L, col("event_id"))
      val compacted = s.read.parquet(s"$tmp/compact")
      def files(p: String): Long = {
        val s = java.nio.file.Files.list(java.nio.file.Paths.get(p))
        try s.filter(f => f.getFileName.toString.startsWith("part-")).count()
        finally s.close()
      }
      def summary(df: DataFrame): (Long, Double) = {
        val r = df.agg(count(lit(1)), round(sum(col("value")), 2)).head()
        (r.getLong(0), r.getDouble(1))
      }
      val (nb, tb) = summary(small)
      val (na, ta) = summary(compacted)
      val out = Seq(("after", files(s"$tmp/compact"), na, ta),
        ("before", files(s"$tmp/small"), nb, tb))
        .toDF("phase", "n_files", "n_rows", "total")
        .orderBy(col("phase"))
      // the result is driver-side literals — the scratch dir is dead here
      graft.TempDirs.delete(tmp)
      out
    },
      """SELECT 'after' AS phase, CAST(2 AS BIGINT) AS n_files,
        |  count(*) AS n_rows, round(sum(value), 2) AS total FROM events
        |UNION ALL
        |SELECT 'before', CAST(64 AS BIGINT), count(*), round(sum(value), 2)
        |FROM events ORDER BY phase""".stripMargin),

    // Partition-level restatement via DYNAMIC partition overwrite — the
    // pattern for correcting a slice of a 100 TB day-partitioned table:
    // the initial load lands the corpus partitioned by event day
    // (repartitioned BY the partition key first, so each day is one
    // task's files, not cpus × days small files); the correction run
    // re-derives ONLY the last two days (a late data-quality fix dropping
    // 'error' rows) and rewrites exactly those two partitions — untouched
    // days keep their original files byte-for-byte. Static overwrite here
    // is the scale-killer (truncates the whole table to restate 2 days);
    // the other gotcha is documented below: a restatement that EMPTIES a
    // partition leaves the old files standing (dynamic mode only replaces
    // partitions present in the write) and needs an explicit delete.
    // The restated-day list is a 2-row collect of partition keys —
    // O(partitions) driver metadata, like a bookmark read.
    QueryDef("partition_overwrite", (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      val out = TempDirs.create(s, "graft-dynpart")
      val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      try {
        s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        ev.repartition(col("day"))
          .write.mode("overwrite").partitionBy("day").parquet(out)
        val last2 = ev.select(col("day")).distinct()
          .orderBy(col("day").desc).limit(2).collect().map(_.getString(0)).toSeq
        ev.filter(col("day").isin(last2: _*) && col("event_type") =!= "error")
          .repartition(col("day"))
          .write.mode("overwrite").partitionBy("day").parquet(out)
      } finally {
        prev match {
          case Some(v) => s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
          case None => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
        }
      }
      // partition-column type inference would read `day` back as DATE;
      // cast pins the declared schema to the oracle's VARCHAR
      s.read.parquet(out)
        .groupBy(col("day").cast("string").as("day"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("event_type")).as("n_types"),
          min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
        .orderBy(col("day"))
    },
      // restatement replay: the final table is every pre-cutoff row plus
      // the corrected (error-free) rows of the two restated days — exactly
      // what dynamic overwrite leaves on disk
      """WITH ev AS (
        |  SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, event_id FROM events),
        |last2 AS (SELECT DISTINCT day FROM ev ORDER BY day DESC LIMIT 2),
        |final AS (
        |  SELECT * FROM ev WHERE day NOT IN (SELECT day FROM last2)
        |  UNION ALL
        |  SELECT * FROM ev
        |  WHERE day IN (SELECT day FROM last2) AND event_type != 'error')
        |SELECT day, count(*) AS n_events,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
        |  CAST(min(event_id) AS BIGINT) AS min_id,
        |  CAST(max(event_id) AS BIGINT) AS max_id
        |FROM final GROUP BY day ORDER BY day""".stripMargin),

    // Schema evolution: two parquet snapshots with different schemas
    // (v2 adds o_orderstatus) merged by one mergeSchema read; old rows
    // surface NULL for the added column and both generations aggregate
    // in a single scan.
    QueryDef("schema_evolution", (s, dir) => {
      val tmp = graft.TempDirs.create("graft-evo")
      val orders = Tables.orders(s, dir)
      orders.where(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$tmp/v1")
      orders.where(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        .write.mode("overwrite").parquet(s"$tmp/v2")
      s.read.option("mergeSchema", "true").parquet(s"$tmp/v1", s"$tmp/v2")
        .groupBy(col("o_orderstatus").isNotNull.as("has_status"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("has_status"))
    },
      """WITH m AS (
        |  SELECT o_totalprice, o_orderkey % 2 = 1 AS has_status FROM orders)
        |SELECT has_status, count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM m GROUP BY has_status ORDER BY has_status""".stripMargin),

    // JSON-lines source roundtrip: events written as JSON, read back with
    // an explicit schema, aggregated.
    QueryDef("json_roundtrip", (s, dir) => {
      val tmp = graft.TempDirs.create("graft-json")
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .write.mode("overwrite").json(tmp)
      s.read.schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE")
        .json(tmp)
        .transform(typeTotals())
    },
      typeTotalsOracle("", "")),

    // Bucketed co-located join: both sides written bucketed+sorted on the
    // join key, so the fact-fact join reads co-located buckets (the
    // zero-exchange property is asserted in BucketingSpec).
    QueryDef("bucketed_join", (s, dir) => {
      val l = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate"))
      graft.sources.Bucketing.writeBucketed(l, "bt_lineitem", "l_orderkey", 8)
      graft.sources.Bucketing.writeBucketed(o, "bt_orders", "o_orderkey", 8)
      graft.sources.Bucketing.table(s, "bt_lineitem")
        .join(graft.sources.Bucketing.table(s, "bt_orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(year(col("o_orderdate")).as("order_year"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("order_year"))
    },
      """SELECT year(o_orderdate) AS order_year, count(*) AS n,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Z-order layout: events written clustered on the Morton interleave
    // of (user_id, value), read back with a 2-D range predicate — both
    // dimensions prune row groups, not just a leading key.
    QueryDef("zorder_prune", (s, dir) => {
      val tmp = graft.TempDirs.create("graft-z")
      graft.sources.Layout.zorderWrite(
        Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), col("value"), col("event_type")),
        tmp, 8, 500000L, 4, col("user_id"), col("value"))
      s.read.parquet(tmp)
        .where(col("user_id").between(10, 30) && col("value").between(50.0, 150.0))
        .transform(typeTotals(min(col("event_id")).as("min_id"),
          max(col("event_id")).as("max_id")))
    },
      typeTotalsOracle(", min(event_id) AS min_id, max(event_id) AS max_id",
        "WHERE user_id BETWEEN 10 AND 30 AND value BETWEEN 50.0 AND 150.0")),

    // Nested-JSON roundtrip: per-order line items packed into a JSON
    // document (sorted array of structs), parsed back with a declared
    // nested schema, array exploded, re-aggregated — equals computing
    // directly from the source (the oracle does exactly that).
    QueryDef("json_nested", (s, dir) => {
      val packed = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(to_json(struct(col("l_orderkey").as("order_id"),
          array_sort(collect_list(struct(col("l_linenumber").as("line"),
            col("l_quantity").as("qty")))).as("items"))).as("doc"))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "order_id LONG, items ARRAY<STRUCT<line: INT, qty: DOUBLE>>")
      packed
        .select(from_json(col("doc"), schema).as("o"))
        .select(col("o.order_id").as("order_id"), explode(col("o.items")).as("it"))
        .groupBy(col("order_id"))
        .agg(count(lit(1)).as("n_items"), round(sum(col("it.qty")), 2).as("sum_qty"),
          max(col("it.line")).as("max_line"))
        .orderBy(col("order_id"))
    },
      // the roundtrip is Spark-internal (pack to JSON, parse back, explode);
      // the oracle computes the same result from the source directly
      """SELECT l_orderkey AS order_id, count(*) AS n_items,
        |  round(sum(l_quantity), 2) AS sum_qty, max(l_linenumber) AS max_line
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // ORC source/sink roundtrip: the third columnar/text format next to
    // csv_roundtrip and json_roundtrip.
    QueryDef("orc_roundtrip", (s, dir) => {
      val tmp = graft.TempDirs.create("graft-orc")
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .write.mode("overwrite").orc(tmp)
      s.read.orc(tmp)
        .transform(typeTotals())
    },
      // the roundtrip queries aggregate what was written and read back, so
      // the oracle aggregates the source table directly
      typeTotalsOracle("", "")),

    // Hive-style partitioned layout: write events partitioned by type,
    // read back two partitions — the filter prunes directories, so the
    // scan never opens the other partitions' files (PartitionPruningSpec
    // asserts selectedPartitions on this layout).
    QueryDef("partitioned_scan", (s, dir) => {
      val tmp = graft.TempDirs.create("graft-part")
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .write.mode("overwrite").partitionBy("event_type").parquet(tmp)
      s.read.parquet(tmp)
        .where(col("event_type").isin("click", "purchase"))
        .transform(typeTotals(countDistinct(col("user_id")).as("n_users")))
    },
      typeTotalsOracle(", count(DISTINCT user_id) AS n_users",
        "WHERE event_type IN ('click', 'purchase')"))
  )

  /** `$.k` of the events' JSON props bucketed by k % 10: what the struct
    * and VARIANT extractions both return (a malformed or non-numeric
    * payload yields NULL, its own bucket).
    */
  private lazy val propsKOracle: String =
    """WITH e AS (
      |  SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events)
      |SELECT k % 10 AS k_bucket, count(*) AS n, min(k) AS min_k, max(k) AS max_k
      |FROM e GROUP BY 1 ORDER BY k_bucket""".stripMargin

  /** Per-type event count `n` and 2-digit value `total`, then `extra`
    * aggregates: the check every events round trip and layout query
    * reads back.
    */
  private def typeTotals(extra: Column*)(df: DataFrame): DataFrame =
    df.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total") +: extra: _*)
      .orderBy(col("event_type"))

  /** [[typeTotals]] over the `events` rows `where` keeps, with the
    * `extra` aggregate columns.
    */
  private[queries] def typeTotalsOracle(extra: String, where: String): String =
    s"""SELECT event_type, count(*) AS n, round(sum(value), 2) AS total$extra
       |FROM events $where GROUP BY event_type ORDER BY event_type""".stripMargin
}
