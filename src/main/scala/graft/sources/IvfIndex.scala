package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** PERSISTED IVF index — the flat-cell [[FrozenCellIndex]]: the
  * production shape of [[graft.operators.Similarity.ivfTopK]], which
  * documents the cell assignment ("every corpus vector goes to its
  * argmax-cosine cell in ONE map-only pass") but recomputes it per query
  * so the oracle can replay it. Here the assignment is a real stored
  * table of (vec_id, cell) rows: a 100 TB corpus is scored against the
  * centroids exactly once, ever; each ingest assigns ONLY its delta
  * against the frozen centroids and appends a generation (watermark slot
  * `assign`, base slot `base`). In-cell scoring is exact, so the only
  * recall knob is nprobe. Frozen seeds, drift guard, operating point,
  * sweep and maintenance are the base class's.
  */
final class IvfIndex(spark: SparkSession, dir: String,
                     val nlist: Int = 16) extends FrozenCellIndex[IvfIndex](spark, dir) {

  def kind: String = "ivf"
  protected def shortlisted: Boolean = false

  protected val ledger = new GenerationLedger(spark, dir, "ivf_index", "assign", "base")
  // stored cell assignments are a function of the frozen seed set;
  // reopening with a different nlist mis-probes — fail at open
  // (FAISS-header rule)
  ledger.validate(Map("nlist" -> nlist))

  protected def writeGen(g: Long, vectors: DataFrame): Unit =
    vectors.select(col("vec_id"),
        Similarity.bestCell(seeds, col("embedding")).getField("cell").as("cell"))
      .select(col("vec_id").cast("long"), col("cell").cast("long"))
      .write.mode("overwrite").parquet(ledger.genDir(g))

  /** First ingest: freeze the seeds, assign every bootstrap vector,
    * commit generation 0. Idempotent.
    */
  def bootstrap(corpus: DataFrame): Unit = if (committedGen < 0) {
    freezeSeeds(corpus)
    ledger.advance(None, _ => StoreParams.stamp(Map("nlist" -> nlist)))(writeGen(_, corpus))
  }

  /** The REBUILD half of the drift guard: re-seed a FRESH lineage at
    * `newDir` from `corpus` (typically the committed corpus plus the
    * drifted delta) and return its handle. This store is never mutated —
    * readers of the old root stay consistent until the caller cuts over
    * and retires it. Cost is one bootstrap over `corpus`, paid only when
    * the guard fires.
    */
  def reseedInto(newDir: String, corpus: DataFrame,
                 nlist: Int = this.nlist): IvfIndex = {
    val fresh = new IvfIndex(spark, newDir, nlist)
    fresh.bootstrap(corpus)
    fresh
  }

  /** Cell-occupancy balance report — the PROBE-cost counterpart of
    * [[driftReport]]. Drift guards what the INGEST distribution does to
    * assignment quality; balance guards what accumulated assignments do
    * to probe cost: a probe of `nprobe` cells scans the rows of the
    * cells it hits, so one hot cell makes every query that probes it pay
    * its size — skew IS the tail latency of the index. `skew` = max
    * occupied-cell size over mean occupied-cell size (1.0 = perfectly
    * even); cells nothing was ever assigned to cost a probe nothing and
    * are excluded. One aggregate over the stored (vec_id, cell) rows —
    * never touches embeddings.
    *
    * Maintenance rule: sustained skew growth across ingests (hot cells
    * absorbing drifted mass) is the same rebuild trigger as
    * [[driftReport]]'s — re-seed into a new lineage; a salting split of
    * the hot cell would change assignment semantics and is deliberately
    * not offered here.
    */
  def balanceReport: DataFrame =
    assignmentsDf.groupBy(col("cell")).agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("n_cells"), sum(col("sz")).as("n_rows"),
        max(col("sz")).as("max_cell"))
      .select(col("n_cells"), col("n_rows"), col("max_cell"),
        round(col("max_cell").cast("double") * col("n_cells") / col("n_rows"), 6)
          .as("skew"))

  /** Every committed assignment row (vec_id, cell): the compacted base (if
    * one exists) plus the generations committed after it.
    */
  def assignmentsDf: DataFrame = ledger.committedDf

  /** Commit the probe operating point ([[FrozenCellIndex.commitPoint]]). */
  def commitOperatingPoint(nprobe: Int, recall: Double): Unit =
    commitPoint(nprobe, None, recall)

  /** The committed nprobe, if a maintenance run has stamped one. */
  def operatingPoint: Option[Int] = point.map(_.nprobe)

  /** MAINTENANCE: re-derive nprobe against the exact scan — the
    * [[FrozenCellIndex.sweep]] with no shortlist phase. One row per
    * setting: (nprobe, recall, chosen, floor_cleared).
    */
  def revalidateNprobe(corpus: DataFrame, queries: DataFrame,
                       k: Int, recallFloor: Double,
                       nprobes: Seq[Int]): DataFrame = {
    import spark.implicits._
    sweep(corpus, queries, k, recallFloor, nprobes, Nil)
      .map(s => (s.nprobe, s.recall, s.chosen, s.cleared))
      .toDF("nprobe", "recall", "chosen", "floor_cleared")
  }

  /** The era-boundary lifecycle ([[FrozenCellIndex.maintainLoop]]) with
    * the one-knob sweep.
    */
  def maintain(corpus: DataFrame, delta: DataFrame, queries: DataFrame,
               k: Int, recallFloor: Double,
               cosineFloor: Double, maxFracBelow: Double,
               nprobes: Seq[Int],
               reseedDir: Option[String] = None,
               cellBudget: Int = 0,
               compactAbove: Int = 0): IvfIndex.Maintenance = {
    val (serving, report) = maintainLoop(corpus, delta, queries, k, recallFloor,
      cosineFloor, maxFracBelow, nprobes, Nil, reseedDir, cellBudget, compactAbove)(
      reseedInto(_, corpus, _))
    IvfIndex.Maintenance(serving, report)
  }

  protected def probe(corpus: DataFrame, queries: DataFrame, k: Int,
                      nprobe: Int, shortlist: Option[Int]): DataFrame =
    topK(corpus, queries, k, nprobe)

  /** ANN top-k against the stored index: queries score the frozen seeds
    * (driver metadata) to pick `nprobe` cells, the stored assignment scan
    * joins the probe set on the cell id, and `corpus` supplies
    * embeddings for exactly the candidate rows via one equi-join on
    * vec_id. Identical output to [[Similarity.ivfTopK]] with the same
    * seeds — minus the corpus-wide argmax, which this index exists to
    * never recompute.
    *
    * BATCH SCALE (r15, the r14 verdict's top item): the probe plan is
    * materialized once via [[IndexProbes.localize]] — query batches up
    * to `probeBroadcastLimit` probe rows collect and broadcast exactly
    * as before; larger batches NEVER move query embeddings through the
    * driver: only the distinct cell ids (O(nlist)) are collected for the
    * scan's IN pushdown, and candidate generation becomes a distributed
    * cell-key join against the cached probe frame. Probe cost stays
    * linear in |queries| (measured at 1×/10×, BASELINE.md r16) with the
    * per-query candidate volume unchanged.
    */
  def topK(corpus: DataFrame, queries: DataFrame, k: Int, nprobe: Int,
           probeBroadcastLimit: Int = IndexProbes.BroadcastRowLimit): DataFrame = {
    // payload-aware broadcast tier: a flat-IVF probe row is the query
    // embedding (4 B/float) plus ids, so the estimate keeps the full row
    // tier here while IVF-PQ's 16 KB ADC rows cap far lower
    val (candIds, _) = probeJoin(assignmentsDf, queries, nprobe,
      Seq("qemb" -> col("embedding")), probeBroadcastLimit,
      rowBytes = 4L * seeds.head._2.size + 48)(identity)
    Similarity.topPerQuery(candIds
      .join(corpus.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(graft.functions.GraftFunctions.cosineSimilarity(
          col("qemb"), col("embedding")), 6).as("cosine")), k)
  }
}

object IvfIndex {
  /** Result of one [[IvfIndex.maintain]] run — the serving lineage and
    * the one-row decision report.
    */
  final case class Maintenance(serving: IvfIndex, report: DataFrame)
}
