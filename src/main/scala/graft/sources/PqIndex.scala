package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** PERSISTED product-quantization index — the train-once/encode-once/
  * probe-many production shape of [[graft.operators.Similarity.pqTopK]]
  * (which retrains codebooks and re-encodes the corpus inside every run
  * so the oracle can replay training). Train-once is the entire point of
  * PQ: a 100 TB corpus is Lloyd-clustered and encoded exactly once, ever;
  * each later ingest encodes ONLY its delta against the FROZEN codebooks
  * and appends a generation of (vec_id, codes) rows — m smallints per
  * vector, 32× narrower than the float embedding it stands in for.
  *
  * Frozen codebooks are the load-bearing production property (the
  * [[FrozenCellIndex]] frozen-seed discipline): a vector's codes are a pure
  * function of the vector, so stored codes stay valid forever and appends
  * are delta-sized. Retraining codebooks is a REBUILD — a new index root,
  * never an in-place mutation.
  *
  * Codebooks live at `dir/books` (m × codes rows of Dim/m floats —
  * driver metadata, the seed-table pattern); code rows live in
  * generation dirs `gen-0..gen-G` under the store's [[GenerationLedger]]
  * (watermark slot `encode`, base slot `base`).
  *
  * Query time is ADC ([[Similarity.pqAdcTopK]]): per query an m×codes
  * lookup table of subspace partial dots (codebook-sized work on the
  * broadcast query side), so the stored-code scan does m `element_at`
  * lookups per pair — the arithmetic matches the narrow representation.
  * The probe consumes the stored codes via a broadcast join that never
  * shuffles the stored side, however many generations it spans, so
  * [[compact]] only bounds listing cost and fragment count.
  */
final class PqIndex(spark: SparkSession, dir: String,
                    m: Int = 8, codes: Int = 16) extends MaintainedStore {

  // MaintainedStore — the O(1) ledger surface the fleet walk reads; the
  // flat code store's only query knob (shortlist) is per-call, so no
  // committed operating point to go stale
  def kind: String = "pq"

  protected val ledger = new GenerationLedger(spark, dir, "pq_index", "encode", "base")
  private val pq = new PqCodebooks(spark, dir, ledger, Map("m" -> m, "codes" -> codes))

  /** The fit-time hyperparameters STAMPED at bootstrap
    * ([[PqCodebooks.fittedParams]]).
    */
  def fittedParams: Map[String, Long] = pq.fittedParams

  private def writeGen(g: Long, vectors: DataFrame,
                       bks: Map[(Int, Int), Seq[Float]]): Unit =
    Similarity.pqEncode(vectors, bks, m, codes)
      .select(col("vec_id").cast("long"), col("codes"))
      .write.mode("overwrite").parquet(ledger.genDir(g))

  /** First ingest: train codebooks on the bootstrap corpus (the
    * deterministic Lloyd discipline of [[Similarity.pqTrain]] — seeds =
    * first-`codes` slices in vec_id order, `iters` argmin rounds), freeze
    * them at `dir/books`, encode every bootstrap vector, commit
    * generation 0. Idempotent. `trainOn` optionally bounds the TRAINING
    * corpus (production trains codebooks on a sample — the BPE
    * bound-the-corpus rule); encoding always covers all of `corpus`.
    */
  def bootstrap(corpus: DataFrame, iters: Int = 2,
                trainOn: Option[DataFrame] = None): Unit =
    if (committedGen < 0) {
      val trained = pq.train(trainOn.getOrElse(corpus), iters)
      ledger.advance(None, _ => pq.stamp)(writeGen(_, corpus, trained))
    }

  /** One incremental ingest: encode ONLY `delta` against the frozen
    * codebooks and append it as the next committed generation. Cost is
    * delta × (m·codes) sub-dot argmins — nothing touches the stored
    * corpus.
    */
  def append(delta: DataFrame): Unit = appendGen(delta, None)

  /** Exactly-once streaming ingest: one micro-batch = one committed
    * generation; a replayed batch id is a no-op ([[GenerationLedger.advance]]).
    */
  def appendBatch(delta: DataFrame, batchId: Long): Unit = appendGen(delta, Some(batchId))

  private def appendGen(delta: DataFrame, batchId: Option[Long]): Unit = {
    require(committedGen >= 0, "append before bootstrap: the index has no codebooks")
    ledger.advance(batchId)(writeGen(_, delta, pq.books))
  }

  /** Every committed code row (vec_id, codes): the compacted base (if
    * one exists) plus the generations committed after it.
    */
  def codesDf: DataFrame = ledger.committedDf

  /** COMPACTION for the flat code store. The ADC scan reads every code
    * row by design (no coarse structure to prune on), so the win here is
    * listing cost O(1) in ingest history and full row groups instead of
    * per-micro-batch fragments; rows are clustered by vec_id for the
    * shortlist re-rank join. Protocol: [[GenerationLedger.compact]];
    * retirement is opt-in.
    */
  def compact(retireSuperseded: Boolean = false): Unit =
    ledger.compactClustered(retireSuperseded, "vec_id")

  /** ADC top-k against the stored codes: identical output to
    * [[Similarity.pqTopK]] with the same training corpus — minus the
    * training and corpus-wide encode, which this index exists to never
    * recompute. `corpus` supplies true embeddings for the exact re-rank
    * of shortlisted candidates only.
    */
  def topK(corpus: DataFrame, queries: DataFrame, k: Int,
           shortlist: Int): DataFrame =
    Similarity.pqAdcTopK(codesDf, corpus, queries, pq.books, m, codes, k, shortlist)
}

/** The frozen PQ codebooks of [[PqIndex]] and [[IvfPqIndex]], and the
  * fit-time `params` (`m`, `codes`, plus IVF-PQ's `nlist`) the store
  * stamps at bootstrap. The params shape the stored code rows and the
  * ADC tables: reopening with different values makes every lookup read
  * codebook entries that were never trained, so a mismatch fails at open
  * (FAISS-header rule) instead of mis-scoring. Codebooks live at
  * `dir/books`: m × codes rows of Dim/m floats, driver metadata in the
  * seed-table pattern.
  */
private[sources] final class PqCodebooks(spark: SparkSession, dir: String,
                                         ledger: GenerationLedger, params: Map[String, Int]) {
  private val m = params("m")
  private val codes = params("codes")
  private def booksDir = s"$dir/books"
  ledger.validate(params)

  /** The params as bookmark slots, for the bootstrap commit. */
  def stamp: Map[String, Long] = StoreParams.stamp(params)

  /** The fit-time hyperparameters STAMPED at bootstrap: the authoritative
    * record of what the stored rows were encoded with. Recall gates and
    * maintenance sweeps read the declared point from here, never from
    * re-typed constants that can drift from the stamp. Empty for
    * pre-stamp artifacts.
    */
  def fittedParams: Map[String, Long] =
    params.keys.toSeq.flatMap(k => ledger.get(s"param.$k").map(k -> _)).toMap

  /** The frozen codebooks, collected as driver metadata and MEMOIZED per
    * store handle: they never change for a committed dir (retraining is a
    * rebuild into a fresh root), so one driver read serves every later
    * probe instead of two scheduler round-trips per call. `lazy` keeps a
    * pre-bootstrap read failing and uncached, so the first read after
    * bootstrap sees the committed books.
    */
  lazy val books: Map[(Int, Int), Seq[Float]] = spark.read.parquet(booksDir)
    .select(col("sub"), col("code"), col("w"))
    .collect().toSeq
    .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Float](2))
    .toMap

  /** Train codebooks on `corpus` ([[Similarity.pqTrain]]'s deterministic
    * Lloyd: seeds are the first-`codes` slices in vec_id order, `iters`
    * argmin rounds), freeze them at `dir/books`, and return them.
    */
  def train(corpus: DataFrame, iters: Int): Map[(Int, Int), Seq[Float]] = {
    val trained = Similarity.pqTrain(corpus, m, codes, iters)
    import spark.implicits._
    trained.toSeq.map { case ((s, c), w) => (s, c, w) }
      .toDF("sub", "code", "w")
      .coalesce(1).write.mode("overwrite").parquet(booksDir)
    trained
  }
}
