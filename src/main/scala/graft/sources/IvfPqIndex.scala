package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.l2_fast
import graft.operators.Similarity

/** PERSISTED IVF-PQ index — the composition that IS the production
  * 100 TB ANN architecture: coarse IVF cells bound the CANDIDATE SET
  * (probe nprobe of nlist cells — candidates ∝ nprobe/nlist of the
  * corpus, independent of corpus growth under [[Similarity.Sizing]]'s
  * nlist rule), PQ codes bound the PER-CANDIDATE COST (ADC: m table
  * lookups per pair instead of Dim multiplies over floats). Each
  * component alone leaves one axis linear — IVF-flat re-reads full-width
  * embeddings for every candidate; flat-PQ ADC still scans every stored
  * code row per query. Together, query cost is
  * (nprobe/nlist)·n·(m lookups) + shortlist exact re-ranks.
  *
  * Storage is the FAISS-IVFPQ posting layout flattened to a table: one
  * row per vector of (vec_id, cell, codes) — the cell id keys the probe
  * join, the m smallint codes are the scan payload, and the float
  * embedding appears ONLY in the shortlist re-rank join against the
  * source corpus. Both the coarse centroids and the codebooks
  * ([[PqCodebooks]]) are FROZEN at bootstrap: a vector's (cell, codes)
  * row is a pure function of the vector, so appends encode and assign
  * only their delta in ONE map-only pass and old rows stay byte-stable
  * forever. Retraining either structure is a REBUILD into a fresh root.
  * Rows live in generation dirs under the store's [[GenerationLedger]]
  * (watermark slot `encode`, base slot `base`). Frozen seeds, drift
  * guard, operating point, sweep and maintenance are [[FrozenCellIndex]]'s.
  */
final class IvfPqIndex(spark: SparkSession, dir: String,
                       val nlist: Int = 16, m: Int = 8, codes: Int = 16)
    extends FrozenCellIndex[IvfPqIndex](spark, dir) {

  def kind: String = "ivfpq"
  protected def shortlisted: Boolean = true

  protected val ledger = new GenerationLedger(spark, dir, "ivfpq_index", "encode", "base")
  // nlist shapes the stored cell ids as m and codes shape the codes
  private val pq = new PqCodebooks(spark, dir, ledger,
    Map("nlist" -> nlist, "m" -> m, "codes" -> codes))

  /** The fit-time hyperparameters STAMPED at bootstrap
    * ([[PqCodebooks.fittedParams]]).
    */
  def fittedParams: Map[String, Long] = pq.fittedParams

  protected def writeGen(g: Long, vectors: DataFrame): Unit = encodeGen(g, vectors, pq.books)

  /** One map-only pass: coarse cell (argmax cosine over frozen seeds)
    * AND PQ codes (m argmin-L2 sub-assignments over frozen codebooks)
    * per vector.
    */
  private def encodeGen(g: Long, vectors: DataFrame,
                        bks: Map[(Int, Int), Seq[Float]]): Unit =
    Similarity.withPqCodes(
        vectors.select(col("vec_id"), col("embedding"),
          Similarity.bestCell(seeds, col("embedding")).getField("cell").as("cell")),
        bks, m, Similarity.Dim / m, codes)
      .select(col("vec_id").cast("long"), col("cell").cast("long"), col("codes"))
      .write.mode("overwrite").parquet(ledger.genDir(g))

  /** First ingest: freeze the coarse seeds and train+freeze the PQ
    * codebooks (both on the bootstrap corpus), then assign+encode every
    * bootstrap vector as generation 0. Idempotent.
    */
  def bootstrap(corpus: DataFrame, iters: Int = 2): Unit =
    if (committedGen < 0) {
      freezeSeeds(corpus)
      val trained = pq.train(corpus, iters)
      ledger.advance(None, _ => pq.stamp)(encodeGen(_, corpus, trained))
    }

  /** Every committed row (vec_id, cell, codes): the compacted base (if
    * one exists) plus the generations committed after it.
    */
  def rowsDf: DataFrame = ledger.committedDf

  /** The REBUILD half of the drift guard: re-seed AND re-train a fresh
    * lineage at `newDir` from `corpus` (typically the committed corpus
    * plus the drifted delta). BOTH frozen structures are retrained,
    * because codebooks fitted on the old distribution quantize the
    * shifted mass as badly as the old seeds assign it. The fresh root
    * commits atomically through its own bootstrap; the OLD root is never
    * touched and stays readable until the caller cuts over and retires
    * it.
    */
  def reseedInto(newDir: String, corpus: DataFrame,
                 nlist: Int = this.nlist): IvfPqIndex = {
    val fresh = new IvfPqIndex(spark, newDir, nlist, m, codes)
    fresh.bootstrap(corpus)
    fresh
  }

  /** MAINTENANCE: re-derive the probe operating point — the two-phase
    * [[FrozenCellIndex.sweep]]. One row per measurement: (phase, nprobe,
    * shortlist, recall, chosen, floor_cleared).
    */
  def revalidateOperatingPoint(corpus: DataFrame, queries: DataFrame,
                               k: Int, recallFloor: Double,
                               nprobes: Seq[Int], shortlists: Seq[Int]): DataFrame = {
    import spark.implicits._
    sweep(corpus, queries, k, recallFloor, nprobes, shortlists)
      .map(s => (s.phase, s.nprobe, s.shortlist.get, s.recall, s.chosen, s.cleared))
      .toDF("phase", "nprobe", "shortlist", "recall", "chosen", "floor_cleared")
  }

  /** Commit the probe operating point ([[FrozenCellIndex.commitPoint]]). */
  def commitOperatingPoint(nprobe: Int, shortlist: Int, recall: Double): Unit =
    commitPoint(nprobe, Some(shortlist), recall)

  /** The committed (nprobe, shortlist), if a maintenance run has stamped
    * one — what a query-time default reads instead of constants.
    */
  def operatingPoint: Option[(Int, Int)] =
    point.map(p => (p.nprobe, p.shortlist.get))

  /** The era-boundary lifecycle ([[FrozenCellIndex.maintainLoop]]) with
    * the two-phase sweep; reseeds retrain seeds AND codebooks on `corpus`.
    */
  def maintain(corpus: DataFrame, delta: DataFrame, queries: DataFrame,
               k: Int, recallFloor: Double,
               cosineFloor: Double, maxFracBelow: Double,
               nprobes: Seq[Int], shortlists: Seq[Int],
               reseedDir: Option[String] = None,
               cellBudget: Int = 0,
               compactAbove: Int = 0): IvfPqIndex.Maintenance = {
    val (serving, report) = maintainLoop(corpus, delta, queries, k, recallFloor,
      cosineFloor, maxFracBelow, nprobes, shortlists, reseedDir, cellBudget, compactAbove)(
      (d, n) => reseedInto(d, corpus, n))
    IvfPqIndex.Maintenance(serving, report)
  }

  protected def probe(corpus: DataFrame, queries: DataFrame, k: Int,
                      nprobe: Int, shortlist: Option[Int]): DataFrame =
    topK(corpus, queries, k, shortlist.get, nprobe)

  /** ANN top-k: queries score the frozen seeds to pick `nprobe` cells
    * and carry their ADC lookup table; the stored scan joins the probe
    * set on the cell id and ADC-scores ONLY probed cells' members
    * (m lookups per pair — full-width arithmetic never happens outside
    * the shortlist re-rank, which joins `corpus` for exactly the
    * shortlisted candidate rows).
    *
    * The probe plan materializes ONCE through [[IndexProbes.localize]]
    * (one evaluation, two consumers — the scan's `IN` pushdown for
    * row-group pruning, `PushedFilters: In(cell, …)` spec-pinned, and
    * the candidate join), and it carries the query EMBEDDING, never the
    * m×codes ADC table — the table (~16 KB at codes=256, the heaviest
    * per-query payload in the engine) is a pure function of (embedding,
    * codebooks) and is computed once per query at the LAST moment, so
    * nothing table-width is ever persisted or shuffled. Batches up to
    * the payload-aware broadcast threshold collect embedding-width rows
    * and compute tables inside the broadcast build; larger batches keep
    * the probe frame executor-side and SPLIT it at the join: the
    * cell-key join moves only narrow (query_id, cell) rows, and the
    * per-QUERY payload attaches after candidate generation — dedup on
    * embedding-width rows, the build side embedding-width too, scoring
    * by the DIRECT ADC kernel dot(q_s, w[s, code_s]) with no table
    * materialized anywhere (r17 verdict #1; bit-identical to the qtab
    * fold, spec-pinned) — on the query_id partitioning the shortlist
    * window needs anyway (no extra exchange). Carrying the table
    * through the persist/dedup/join path is the measured failure mode,
    * twice: the 10× rehearsal's 20k-query batch OOM'd a 2.6 GB join
    * sort (r15), and the 42k-query declared batch OOM'd the 2.7 GB
    * persisted+shuffled table frame (r16); computing it streaming into
    * the shuffle-hash build (r16's fix) still allocated ~0.7 GB of
    * tables per 42k-query run — the suite's measured GC driver (r17).
    * The exact re-rank's query join drops its broadcast hint in the
    * same mode. The driver never holds more than O(nlist) cell ids
    * (r14 verdict #1 / ADVICE: the previous full-plan collect was a
    * driver OOM at production batch sizes).
    */
  def topK(corpus: DataFrame, queries: DataFrame, k: Int, shortlist: Int,
           nprobe: Int,
           probeBroadcastLimit: Int = IndexProbes.BroadcastRowLimit): DataFrame = {
    require(k >= 1 && shortlist >= k)
    val bks = pq.books
    val stored = rowsDf.select(col("vec_id"), col("cell"), col("codes"),
      Similarity.pqRnorm(bks, m, codes).as("rnorm"))
    val (cands, bcast) = probeJoin(stored, queries, nprobe,
      Seq("qnorm" -> l2_fast(col("embedding")), "qemb" -> col("embedding")),
      probeBroadcastLimit,
      // payload-aware broadcast tier (r15 ADVICE): the broadcast
      // RELATION materializes the per-query ADC table, so the byte
      // estimate is the table width — a row-cap-only threshold would
      // hand the driver ~64 MB of materialized tables at codes=256; the
      // byte budget caps the tier near 2k rows instead
      rowBytes = 8L * m * codes + 64)(
      _.withColumn("qtab", Similarity.pqQtab(bks, m, codes, col("qemb"))))
    // the broadcast build scores through its tables; the distributed
    // tier materializes none and runs the direct kernel, which trades
    // m·subDim multiply-adds per pair for the tables' allocation and GC
    val qdot =
      if (bcast) Similarity.pqQdot(m, codes, col("qtab"), col("codes"))
      else Similarity.pqAdcDot(bks, m, codes, col("qemb"), col("codes"))
    val denom = col("qnorm") * col("rnorm")
    val scored = cands.select(col("query_id"), col("vec_id").as("neighbor_id"),
      when(denom === 0.0, lit(0.0)).otherwise(qdot / denom).as("qcos"))
    Similarity.shortlistRerank(scored, corpus, queries, k, shortlist,
      broadcastQueries = bcast)
  }
}

object IvfPqIndex {
  /** Result of one [[IvfPqIndex.maintain]] run: the store that serves
    * from here on (a fresh lineage when the run rebuilt, the original
    * otherwise) and the one-row decision report.
    */
  final case class Maintenance(serving: IvfPqIndex, report: DataFrame)
}
