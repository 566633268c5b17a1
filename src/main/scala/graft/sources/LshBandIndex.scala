package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, IntegerType, StructField, StructType}

import graft.Residue
import graft.operators.Dedup

/** PERSISTED MinHash-LSH band index — the production shape of
  * [[graft.operators.Dedup.minhashLshPairsIncremental]], which documents
  * the contract ("the band table is an append-only index") but re-bands
  * the old corpus on every run so the oracle can replay it. Here the index
  * is a real stored table: a 100 TB corpus is shingled exactly once, ever;
  * each ingest bands ONLY its delta, probes the stored index, and appends
  * its own bands for the next run.
  *
  * Band rows live in generation directories `gen-0..gen-G` under the
  * store's [[GenerationLedger]] (watermark slot `bands`, base slot
  * `compacted`), and a sweep's generation is appended ONLY after the
  * caller's sink has consumed the sweep result (commit-after-sink, the
  * reference's D4/D6 defect fixed): a failed sink appends nothing, so the
  * next run re-sweeps the same delta. The index is thus
  * append-only and exactly-once; the sink keeps the same at-least-once
  * window as [[graft.operators.IncrementalStarJob]], closed by idempotent
  * sinks.
  *
  * Scale shape: the probe join keys on (band, band_key); the per-ingest
  * cost is band(delta) + probe + verify(matched docs) — nothing is
  * proportional to the corpus, and the r7 rehearsal row
  * (`incr_lsh_indexed`, BASELINE.md) measured exactly that claim.
  * [[compact]] folds the generations into ONE bucketed+sorted table on
  * the probe key ([[BucketedBase]]), after which the stored side joins
  * with NO exchange at all (spec-asserted) — only delta-sized data ever
  * crosses the network, the co-located-join discipline of [[Bucketing]]
  * applied to index maintenance.
  */
final class LshBandIndex(spark: SparkSession, dir: String,
                         n: Int = 3, k: Int = 16, bands: Int = 4)
    extends MaintainedStore {

  // MaintainedStore — the O(1) ledger surface the fleet walk reads; the
  // band index has no probe operating point (its recall is the fixed
  // (n, k, bands) banding family stamped at open), so never point-stale
  def kind: String = "lsh"

  protected val ledger = new GenerationLedger(spark, dir, "lsh_band_index",
    "bands", "compacted", basePrefix = "compacted-")
  // stored band keys are a pure function of (n, k, bands): probing with
  // drifted values finds no (or wrong) collisions — fail at open
  // (FAISS-header rule)
  ledger.validate(Map("n" -> n, "k" -> k, "bands" -> bands))

  private val bandSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("band", IntegerType),
    StructField("band_key", LongType)))

  private val layout =
    new BucketedBase(spark, ledger, "graft_lsh_idx_", bandSchema, Seq("band", "band_key"))
  private[graft] def tableName: String = layout.tableName

  /** Every committed band row (doc_id, band, band_key): the bucketed
    * compaction (if any) plus the parquet tail generations appended since.
    */
  def bandsDf: DataFrame = {
    val (c, g) = ledger.view
    layout.asOf(c, g)
  }

  /** Index-maintenance telemetry (the [[InvertedIndex.termStats]] /
    * [[IvfIndex.balanceReport]] analogue for LSH bands): per band, the
    * bucket count, total rows, largest bucket, and the exact candidate
    * PAIR bound sum n·(n−1)/2 over its buckets — which IS the probe
    * join's worst-case output for that band. A template-heavy corpus
    * concentrates band keys; this report is where an operator sees the
    * blow-up coming (and retunes k/bands or adds a stop-band list)
    * BEFORE an ingest sweep goes quadratic. One aggregation over the
    * stored band rows, grouped on the index's own storage key — on the
    * compacted table the first aggregation is exchange-free.
    */
  def bandStats: DataFrame =
    bandsDf.groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("n")).cast("long").as("n_rows"),
        max(col("n")).cast("long").as("max_bucket"),
        sum(expr("n * (n - 1) DIV 2")).cast("long").as("candidate_pairs"))

  /** The stop-band list at occupancy cap `cap`: every (band, band_key)
    * bucket holding more than `cap` docs — the buckets [[bandStats]]'
    * `candidate_pairs` column shows going quadratic. Template-heavy
    * corpora (boilerplate headers, licence blocks, scraped nav chrome)
    * concentrate one band key across millions of documents; enumerating
    * that bucket's pairs is O(n²) and the verify join downstream pays it.
    * Excluding a delta's band rows at stopped keys (see
    * [[sweepAndAppend]]'s `stopBands`) bounds every bucket's probe
    * output at cap·|delta-rows-in-bucket| — the LSH analogue of the
    * inverted index's lead-rarest stopword defense and the classic
    * stop-band list of production near-dup systems. Recall tradeoff is
    * the banding bound: a pair is lost only if stopped buckets were its
    * ONLY agreeing bands.
    *
    * Computed over the COMPACTED table only — the stop list is
    * compaction-cadence metadata (refreshed when [[compact]] folds the
    * tail), so it is deterministic under ingest replay: tail generations
    * appended between compactions never shift it mid-stream. On a
    * never-compacted index it falls back to all committed bands. Output
    * is O(#mega-buckets) — broadcast-sized by construction.
    */
  def stopBands(cap: Int): DataFrame = {
    val c = compactedThrough
    val src = if (c >= 0) layout.table(c) else bandsDf
    src.groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("n")).filter(col("n") > cap)
      .select(col("band"), col("band_key"))
  }

  /** Fold every committed generation into ONE bucketed+sorted table on
    * (band, band_key) — the probe join's key — so the stored side of every
    * subsequent sweep reads co-located buckets and shuffles NOTHING; only
    * the delta moves (the [[Bucketing]] discipline applied to the index).
    * At 100 TB this is the maintenance operation that keeps per-ingest
    * probe cost delta-shaped forever: run it when the parquet tail has
    * grown past a few generations. Protocol: [[GenerationLedger.compact]];
    * the superseded generations and compaction are always retired,
    * best-effort, after the commit.
    */
  def compact(buckets: Int = 8): Unit =
    ledger.compact(retire = true, bestEffort = true) { (c, g) =>
      layout.fold(layout.asOf(c, g), g, buckets)
    }

  private def writeGen(g: Long, rows: DataFrame): Unit =
    rows.select(col("doc_id").cast("long"), col("band").cast("int"),
      col("band_key").cast("long"))
      .write.mode("overwrite").parquet(ledger.genDir(g))

  /** First ingest: band `docs` and commit generation 0. Idempotent — a
    * bootstrap over an already-bootstrapped index is a no-op.
    */
  def bootstrap(docs: DataFrame): Unit = if (committedGen < 0) {
    ledger.advance(None, _ => StoreParams.stamp(Map("n" -> n, "k" -> k, "bands" -> bands)))(
      writeGen(_, Dedup.minhashBands(docs, n, k, bands)))
  }

  /** One incremental ingest: sweep `delta` against the committed index
    * (plus the delta's own bands, so delta-delta near-dups are found),
    * verify candidates by exact Jaccard >= `threshold` over `corpusText`
    * (doc_id, text — read only for docs appearing in some candidate), feed
    * the verified pairs to `sink`, THEN append the delta's bands as the
    * next committed generation. Output contract is
    * [[graft.operators.Dedup.minhashLshPairsIncremental]]'s: exactly the
    * full sweep's pairs involving a delta doc.
    *
    * `batchId` (optional) makes the APPEND idempotent under whole-ingest
    * replay, like every other store's `appendBatch`: the append goes
    * through [[GenerationLedger.advance]], so a batch id at or below the
    * committed `last_batch` still sweeps and sinks (at-least-once sink,
    * closed by idempotent sinks — same window as the star job) but skips
    * re-appending the delta's bands. Without it, a replayed ingest — a
    * bench warm run re-executing the same declared query against an
    * [[graft.IndexCache]]-cached index — would grow the index by one
    * duplicate generation per run. The sweep RESULT is replay-invariant
    * either way: a delta doc's own committed bands are excluded by the
    * `doc_id` inequality, and delta-vs-delta pairs are already produced by
    * the delta-side probe, so the distinct'd pair set is identical before
    * and after the append.
    *
    * `stopBands` (optional, see [[stopBands]]) excludes the listed
    * (band, band_key) buckets from candidate generation: the DELTA side
    * of both probes is anti-joined against the broadcast list, which
    * suffices — a stored (or delta) row at a stopped key can only match
    * a delta row at the same key, and the delta side has none left. The
    * APPEND is never filtered: the index stores every band row, so the
    * stop list stays a query-time policy that a later retune can relax
    * without re-shingling history.
    */
  def sweepAndAppend(corpusText: DataFrame, delta: DataFrame,
                     threshold: Double, batchId: Option[Long] = None,
                     stopBands: Option[DataFrame] = None)
                    (sink: DataFrame => Unit): Unit = {
    // the delta's bands feed the probe AND the post-sink append — pin so
    // the delta is shingled once; freed by the caller's end-of-query drain
    val dBandsAll = Residue.pin(Dedup.minhashBands(delta, n, k, bands))
    val dBands = stopBands.fold(dBandsAll)(sb =>
      dBandsAll.join(broadcast(sb.select(col("band"), col("band_key"))),
        Seq("band", "band_key"), "left_anti"))
    // two separate probes (index, delta-delta) rather than one probe of
    // their union: unioning onto the stored side would erase its bucket
    // spec, and with a compacted index the whole point is that the stored
    // side joins WITHOUT an exchange — join distributes over union, so the
    // result set is identical and the distinct merges both directions
    def probe(y: DataFrame): DataFrame = dBands.as("x")
      .join(y.as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("id_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("id_b"))
    // the candidate set feeds the verify plan FOUR times (both sides of
    // the id union, then through both gram-join arms) and the gram table
    // twice — unpinned, Catalyst re-derives the whole probe (index scan +
    // delta banding) per reference: measured 3.4-6.4 s vs 2.3 s per sweep
    // at sf0.1. Both pins are candidate-volume-sized (pair ids; involved
    // docs' shingles), the operator's own output scale — freed by the
    // caller's end-of-query drain
    val cand = Residue.pin(
      probe(bandsDf).unionByName(probe(dBands)).distinct())
    val grams = Residue.pin(Dedup.involvedSets(cand, corpusText, n))
    sink(Dedup.jaccardVerify(cand, grams, threshold))
    // sink succeeded -> append the delta's bands and advance the watermark
    // (a no-op for an already-applied batch id)
    ledger.advance(batchId)(writeGen(_, dBandsAll))
  }
}
