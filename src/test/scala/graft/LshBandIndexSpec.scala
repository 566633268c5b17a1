package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.sources.LshBandIndex

/** The persisted band index must be indistinguishable from the
  * replay-from-scratch incremental sweep (same pairs), while never
  * re-shingling the old corpus and never exposing an uncommitted append.
  */
class LshBandIndexSpec extends SparkSuite {

  private def universe = Tables.documents(spark, sf)
    .filter(col("doc_id") % 10 === 0).select(col("doc_id"), col("text"))
  private def oldDocs = universe.filter(col("doc_id") % 50 =!= 0)
  private def delta = universe.filter(col("doc_id") % 50 === 0)

  private def sweepVia(idx: LshBandIndex): Seq[(Long, Long, Double)] = {
    var out: Seq[(Long, Long, Double)] = Nil
    idx.sweepAndAppend(universe, delta, threshold = 0.6) { pairs =>
      out = pairs.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    }
    out
  }

  test("indexed sweep equals the replay-from-scratch incremental sweep") {
    val idx = new LshBandIndex(spark, TempDirs.create("lsh-idx-spec"))
    idx.bootstrap(oldDocs)
    assert(idx.committedGen === 0L)
    val expected = Dedup.minhashLshPairsIncremental(oldDocs, delta,
        n = 3, k = 16, bands = 4, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sorted
    assert(expected.nonEmpty)
    assert(sweepVia(idx) === expected)
    // sink succeeded -> the delta's bands were appended and committed
    assert(idx.committedGen === 1L)
    assert(idx.bandsDf.count() ===
      Dedup.minhashBands(universe, 3, 16, 4).count())
  }

  private def sweepBatch(idx: LshBandIndex, b: Long): Unit =
    idx.sweepAndAppend(universe, delta, 0.6, batchId = Some(b))(_ => ())

  test("distinct batch ids each append once; replaying either is a no-op") {
    val idx = new LshBandIndex(spark, TempDirs.create("lsh-idx-batch"))
    idx.bootstrap(oldDocs)
    sweepBatch(idx, 0L)
    assert(idx.committedGen === 1L)
    sweepBatch(idx, 1L)
    assert(idx.committedGen === 2L, "a distinct batch id must append its bands")
    sweepBatch(idx, 0L)
    sweepBatch(idx, 1L)
    assert(idx.committedGen === 2L, "a replayed batch id must not append again")
  }

  test("keyed ingests leave a fixed set of slots: 5 batch ids commit the slot names 1 does") {
    def slotNames(dir: String): Set[String] = {
      val p = new java.util.Properties()
      val in = java.nio.file.Files.newInputStream(java.nio.file.Paths.get(dir, "bookmarks.properties"))
      try p.load(in) finally in.close()
      p.stringPropertyNames().asScala.toSet
    }
    val one = TempDirs.create("lsh-idx-slots1")
    val five = TempDirs.create("lsh-idx-slots5")
    val a = new LshBandIndex(spark, one)
    val b = new LshBandIndex(spark, five)
    a.bootstrap(oldDocs)
    b.bootstrap(oldDocs)
    sweepBatch(a, 0L)
    (0L until 5L).foreach(sweepBatch(b, _))
    assert(b.committedGen === 5L)
    assert(slotNames(five) === slotNames(one))
  }

  test("commit-after-sink: a failed sink appends nothing; the retry sweeps the same delta") {
    val idx = new LshBandIndex(spark, TempDirs.create("lsh-idx-spec2"))
    idx.bootstrap(oldDocs)
    intercept[RuntimeException] {
      idx.sweepAndAppend(universe, delta, 0.6) { _ =>
        throw new RuntimeException("sink down")
      }
    }
    assert(idx.committedGen === 0L) // no half-ingested index
    val retry = sweepVia(idx) // same delta, now with a working sink
    assert(retry.nonEmpty)
    assert(idx.committedGen === 1L)
  }

  test("an uncommitted generation directory is invisible to readers") {
    val dir = TempDirs.create("lsh-idx-spec3")
    val idx = new LshBandIndex(spark, dir)
    idx.bootstrap(oldDocs)
    val committedRows = idx.bandsDf.count()
    // simulate a crash mid-append: gen-1 parquet exists, watermark doesn't
    Dedup.minhashBands(delta, 3, 16, 4)
      .write.mode("overwrite").parquet(s"$dir/gen-1")
    assert(idx.committedGen === 0L)
    assert(idx.bandsDf.count() === committedRows)
    // the next ingest overwrites the orphan and commits atomically
    assert(sweepVia(idx).nonEmpty)
    assert(idx.committedGen === 1L)
  }

  test("compact: same sweep output, appends keep working, catalog survives a re-registration") {
    val idx = new LshBandIndex(spark, TempDirs.create("lsh-idx-spec5"))
    idx.bootstrap(oldDocs)
    val before = Dedup.minhashLshPairsIncremental(oldDocs, delta,
        n = 3, k = 16, bands = 4, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sorted
    val preCompactRows = idx.bandsDf.count()
    idx.compact(buckets = 4)
    assert(idx.compactedThrough === 0L)
    assert(idx.bandsDf.count() === preCompactRows) // nothing lost or doubled
    assert(sweepVia(idx) === before) // sweep against the bucketed table
    assert(idx.committedGen === 1L) // the post-sweep append landed as a tail gen
    assert(idx.bandsDf.count() ===
      Dedup.minhashBands(universe, 3, 16, 4).count())
    // a fresh session's catalog would not know the table: simulate by
    // dropping the catalog entry (files stay — external table) and assert
    // the index re-registers it from its own committed metadata
    spark.sql(s"DROP TABLE IF EXISTS ${idx.tableName}")
    assert(idx.bandsDf.count() ===
      Dedup.minhashBands(universe, 3, 16, 4).count())
  }

  test("compacted probe joins the stored side with zero exchange") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.FileSourceScanExec
    val idx = new LshBandIndex(spark, TempDirs.create("lsh-idx-spec6"))
    idx.bootstrap(universe)
    idx.compact(buckets = 4)
    val dBands = Dedup.minhashBands(delta, 3, 16, 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probe = dBands.as("x").join(idx.bandsDf.as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_key") === col("y.band_key"))
      probe.write.format("noop").mode("overwrite").save() // let AQE finalize
      def collectRec[T](p: SparkPlan)(f: PartialFunction[SparkPlan, T]): Seq[T] =
        p.collect {
          case a: AdaptiveSparkPlanExec => collectRec(a.executedPlan)(f)
          case n if f.isDefinedAt(n) => Seq(f(n))
        }.flatten
      val plan = probe.queryExecution.executedPlan
      val exchanges = collectRec(plan) { case e: ShuffleExchangeLike => e }
      val bucketedScans = collectRec(plan) {
        case s: FileSourceScanExec if s.bucketedScan => s
      }
      // exactly ONE exchange — the delta side moving to the index's bucket
      // layout; the stored side is a bucketed scan with no exchange above it
      assert(exchanges.size === 1, plan.toString.take(3000))
      assert(bucketedScans.size === 1, plan.toString.take(3000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("a crashed re-compaction cannot re-register old files under a new bucket count") {
    import org.apache.spark.sql.catalyst.TableIdentifier
    val dir = TempDirs.create("lsh-idx-spec7")
    val idx = new LshBandIndex(spark, dir)
    idx.bootstrap(oldDocs)
    idx.compact(buckets = 4)
    val rows = idx.bandsDf.count()
    // simulate a later compact(8) that crashed AFTER committing its bucket
    // count but BEFORE advancing the compaction watermark
    new graft.sources.BookmarkStore(dir)
      .commit("compacted_buckets_1", "lsh_band_index", 8L)
    // the reader must still pair generation 0's files with generation 0's
    // bucket count — re-register from scratch and check the catalog
    spark.sql(s"DROP TABLE IF EXISTS ${idx.tableName}")
    assert(idx.bandsDf.count() === rows)
    val spec = spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(idx.tableName)).bucketSpec
    assert(spec.map(_.numBuckets) === Some(4))
  }

  test("bandStats matches a direct aggregation of the stored bands, across generations") {
    val idx = new LshBandIndex(spark, TempDirs.create("lsh-idx-stats"))
    idx.bootstrap(oldDocs)
    idx.compact(buckets = 4)
    sweepVia(idx) // append a tail generation so the stats span compacted + gen rows
    def statsOf(bands: org.apache.spark.sql.DataFrame): Seq[(Int, Long, Long, Long, Long)] =
      bands.groupBy(col("band"), col("band_key")).agg(count(lit(1)).as("n"))
        .groupBy(col("band"))
        .agg(count(lit(1)).cast("long").as("n_buckets"),
          sum(col("n")).cast("long").as("n_rows"),
          max(col("n")).cast("long").as("max_bucket"),
          sum(expr("n * (n - 1) DIV 2")).cast("long").as("candidate_pairs"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq.sorted
    val got = statsOf(idx.bandsDf)
    val expected = statsOf(Dedup.minhashBands(universe, 3, 16, 4))
    assert(expected.nonEmpty)
    assert(got === expected)
    // the pair bound really bounds the probe join's per-band output:
    // self-join each band on its key and compare ordered-pair counts
    val bands = Dedup.minhashBands(universe, 3, 16, 4)
    val joined = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.band")).agg(count(lit(1)).cast("long").as("pairs"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    expected.foreach { case (band, _, _, _, bound) =>
      assert(joined.getOrElse(band, 0L) === bound)
    }
  }

  test("stop-band cap: template mega-buckets are excluded; small buckets keep matching") {
    import spark.implicits._
    val boiler = "the quick brown fox jumps over the lazy dog again and again"
    val rare = "completely original sentence about distributed band indexes"
    // six template docs -> one mega-bucket per band (identical signatures);
    // two rare docs -> a size-2 bucket per band (below any sane cap)
    val hist = ((1L to 5L).map(i => (i, boiler)) :+ (10L, rare)).toDF("doc_id", "text")
    val delta = Seq((6L, boiler), (11L, rare)).toDF("doc_id", "text")
    val idx = new LshBandIndex(spark, TempDirs.create("lsh-idx-cap"))
    idx.bootstrap(hist)
    idx.compact(buckets = 4)
    // the list is exactly the template buckets: 4 bands x 1 key, each n=5>4
    val stop = idx.stopBands(cap = 4)
    assert(stop.count() === 4L)
    def sweep(sb: Option[org.apache.spark.sql.DataFrame]): Set[(Long, Long)] = {
      var out = Set.empty[(Long, Long)]
      idx.sweepAndAppend(hist.unionByName(delta), delta, threshold = 0.9,
          stopBands = sb) { pairs =>
        out = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      out
    }
    val capped = sweep(Some(stop))
    // the rare pair survives (its bucket is size 2); every pair involving
    // the template delta doc 6 is dropped — its only agreeing buckets are
    // stopped, which is the documented (and bounded) recall tradeoff
    assert(capped === Set((10L, 11L)))
    // the append stored the delta's FULL bands (policy is query-time only):
    // an uncapped re-sweep of the same delta still finds the template pairs
    val uncapped = sweep(None)
    assert(uncapped.contains((10L, 11L)))
    assert((1L to 5L).forall(i => uncapped.contains((i, 6L))))
  }

  test("capped sweep on real data equals the filtered recompute; stop list is compaction-cadence") {
    val idx = new LshBandIndex(spark, TempDirs.create("lsh-idx-cap2"))
    idx.bootstrap(oldDocs)
    idx.compact(buckets = 4)
    val cap = 1 // aggressive on the tiny sample so the list is non-empty
    val stop = idx.stopBands(cap)
    assert(stop.count() > 0)
    // expected = replay: delta bands anti-joined on the stop list (computed
    // over HISTORY bands — the compacted content), probed against ALL bands
    val all = Dedup.minhashBands(universe, 3, 16, 4)
    val dlt = Dedup.minhashBands(delta, 3, 16, 4)
      .join(stop, Seq("band", "band_key"), "left_anti")
    val cand = dlt.as("x").join(all.as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("id_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("id_b")).distinct()
    val gs = universe.select(col("doc_id"),
      graft.functions.GraftFunctions.shingleHashes(col("text"), 3).as("gs"))
    val expected = cand
      .join(gs.as("ga"), col("id_a") === col("ga.doc_id"))
      .join(gs.as("gb"), col("id_b") === col("gb.doc_id"))
      .select(col("id_a"), col("id_b"),
        round(size(array_intersect(col("ga.gs"), col("gb.gs"))).cast("double") /
          size(array_union(col("ga.gs"), col("gb.gs"))), 6).as("jaccard"))
      .filter(col("jaccard") >= 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    var got: Seq[(Long, Long, Double)] = Nil
    idx.sweepAndAppend(universe, delta, threshold = 0.6,
        stopBands = Some(idx.stopBands(cap))) { pairs =>
      got = pairs.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    }
    assert(got === expected)
    // compaction-cadence determinism: the append above landed a tail
    // generation, but the stop list reads only the compacted table
    assert(idx.committedGen === 1L)
    assert(idx.stopBands(cap).collect().toSet ===
      stop.collect().toSet)
  }

  test("bootstrap is idempotent") {
    val idx = new LshBandIndex(spark, TempDirs.create("lsh-idx-spec4"))
    idx.bootstrap(oldDocs)
    val rows = idx.bandsDf.count()
    idx.bootstrap(universe) // second bootstrap must be a no-op
    assert(idx.committedGen === 0L)
    assert(idx.bandsDf.count() === rows)
  }
}
