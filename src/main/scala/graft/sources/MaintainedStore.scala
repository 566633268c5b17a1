package graft.sources

/** The common LEDGER surface of the generational persisted-store family
  * ([[IvfIndex]], [[IvfPqIndex]], [[PqIndex]], [[InvertedIndex]],
  * [[LshBandIndex]]) — what a FLEET-level maintenance scheduler reads
  * (r14 verdict next-round #5). Every signal here is O(1) properties-file
  * metadata read through the store's [[GenerationLedger]]: a
  * deployment-wide walk over hundreds of stores costs hundreds of small
  * file reads and zero Spark jobs, so it can run on every scheduler tick.
  * The data-sized health signals — drift fractions, capacity sweeps,
  * recall grids — deliberately do NOT appear here: they are each store's
  * own `maintain()`-time work, and the fleet walk's job is to decide
  * WHICH stores to spend that work on.
  *
  * Model stores with a fit-once lifecycle (LmStore, DsirModelStore,
  * BpeVocabStore) are not in this family: they have no generation ledger
  * to lag behind — refreshing them is an era-boundary refit, not an
  * incremental maintenance decision.
  */
trait MaintainedStore {

  /** Store-family tag for the fleet report (e.g. "ivf", "ivfpq", "pq",
    * "inverted", "lsh").
    */
  def kind: String

  /** The store's commit, replay and compaction protocol. */
  protected def ledger: GenerationLedger

  /** Highest committed generation; -1 = empty store. */
  def committedGen: Long = ledger.committedGen

  /** Generation the last compaction folded through; -1 = never. */
  def compactedThrough: Long = ledger.compactedThrough

  /** Directories a committed-view reader must list/scan right now — the
    * read-amplification signal compaction resets.
    */
  def fragmentCount: Long = ledger.fragmentCount

  /** The compaction policy predicate: more committed fragment dirs than
    * `maxFragments` means readers pay ingest-history listing and a
    * scheduler (or the store's own `maintain`) should compact.
    */
  def compactionDue(maxFragments: Int): Boolean = ledger.compactionDue(maxFragments)

  /** Whether this family serves queries through a committed operating
    * point (the ANN probe stores). Families without one can never be
    * point-stale — but a point-serving store with NO committed point has
    * never been maintained, which the fleet report surfaces as due.
    */
  def pointSemantics: Boolean = false

  /** Generation the committed operating point was validated against;
    * None when no point was committed (or the family has none).
    */
  def pointGen: Option[Long] = None

  /** The committed probe width, for the report's replay column; None
    * when no point was committed (or the family has none).
    */
  def pointProbe: Option[Int] = None
}
