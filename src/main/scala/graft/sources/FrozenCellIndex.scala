package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{ParallelReports, Similarity}

/** The frozen-cell ANN store: the persisted production shape of
  * [[Similarity.ivfTopK]], and the one owner of everything its two
  * stores share. [[IvfIndex]] stores (vec_id, cell) rows and scores
  * probed cells exactly against the corpus; [[IvfPqIndex]] stores
  * (vec_id, cell, codes) rows, ADC-scores probed cells and re-ranks a
  * shortlist. Each subclass keeps only its row shape, its codebooks, its
  * probe and its shortlist axis.
  *
  * Frozen seeds are the load-bearing production property. Bootstrap
  * freezes the `nlist` lowest-vec_id vectors as centroids, and they never
  * move afterward, so an appended vector's cell is a pure function of the
  * vector: stored rows stay valid forever and each append assigns only its
  * delta, in one map-only pass, as the next generation of the store's
  * [[GenerationLedger]]. A crashed append's generation is invisible to
  * readers. Retraining is a REBUILD into a fresh root (`reseedInto`),
  * never an in-place mutation, exactly like a new bookmark lineage.
  *
  * Queries serve at a committed OPERATING POINT ([[FrozenCellIndex.OperatingPoint]])
  * that [[maintainLoop]] re-derives as the data drifts: drift guard,
  * capacity, recall sweep, commit, layout — the loop of Continuously
  * Adaptive Similarity Search (SIGMOD 2020).
  */
abstract class FrozenCellIndex[S <: FrozenCellIndex[S]](spark: SparkSession, dir: String)
    extends MaintainedStore { this: S =>
  import FrozenCellIndex._

  /** The cell count the seeds were frozen at (an upper bound: see [[freezeSeeds]]). */
  def nlist: Int

  // MaintainedStore — the O(1) ledger surface the fleet walk reads
  override def pointSemantics: Boolean = true
  override def pointGen: Option[Long] = operatingPointGen
  override def pointProbe: Option[Int] = point.map(_.nprobe)

  /** Whether the probe has a shortlist axis (IVF-PQ's exact re-rank). */
  protected def shortlisted: Boolean

  /** Write the rows of `vectors` as generation `g`, against the frozen
    * structures.
    */
  protected def writeGen(g: Long, vectors: DataFrame): Unit

  /** Top-k at explicit knobs; `shortlist` is set iff [[shortlisted]]. */
  protected def probe(corpus: DataFrame, queries: DataFrame, k: Int,
                      nprobe: Int, shortlist: Option[Int]): DataFrame

  private def seedsDir = s"$dir/seeds"

  /** The frozen centroids, collected as O(nlist) driver metadata — the
    * same role as a bookmark read, never data-sized. MEMOIZED per store
    * handle: the seeds are frozen at bootstrap, so one driver read serves
    * every later probe instead of two scheduler round-trips (parquet job
    * + collect job) on every topK, drift report and sweep setting. `lazy`
    * keeps a pre-bootstrap read failing and uncached, so the first read
    * after bootstrap's write sees the committed seeds.
    */
  protected lazy val seeds: Seq[(Long, Seq[Float])] = spark.read.parquet(seedsDir)
    .select(col("cell_id"), col("embedding"))
    .collect().toSeq
    .map(r => (r.getLong(0), r.getSeq[Float](1)))
    .sortBy(_._1)

  /** Freeze the `nlist` lowest-vec_id vectors of `corpus` as the seeds
    * (IVF-flat sampled seeds, [[Similarity.ivfTopK]]'s family). A corpus
    * smaller than `nlist` freezes fewer: `nlist` is an upper bound.
    */
  protected final def freezeSeeds(corpus: DataFrame): Unit =
    corpus.select(col("vec_id").as("cell_id"), col("embedding"))
      .orderBy(col("cell_id")).limit(nlist)
      .write.mode("overwrite").parquet(seedsDir)

  /** The `nprobe` best cells of `emb` against the frozen seeds
    * ([[Similarity.probedCells]]), one exploded row each.
    */
  protected final def probeCells(emb: Column, nprobe: Int): Column = {
    val ss = seeds
    require(nprobe >= 1 && nprobe <= ss.size)
    Similarity.probedCells(ss, emb, nprobe)
  }

  /** The candidate rows of a probe: each query's `nprobe` best cells
    * (carrying its `payload` columns) joined to the `stored` rows of those
    * cells, self-pairs dropped; returns the rows and whether the probe
    * was broadcast.
    *
    * The probe plan materializes ONCE through [[IndexProbes.localize]]
    * and feeds two consumers: the probed cells become an explicit `IN`
    * filter on the stored scan (a join alone injects no row-group pruning
    * on a non-partition column, so the compacted cell-clustered base
    * would be scanned in full), and the same rows feed the candidate
    * join, so both read one evaluation even when the queries source is
    * non-deterministic. Batches up to `probeBroadcastLimit` rows (and the
    * byte budget `rowBytes` per row) collect and broadcast, after
    * `broadcastSide`; larger batches never move query payload through
    * the driver. Their cell join moves only narrow (query_id, cell) rows
    * — carrying the payload through it puts |candidates|·payload into the
    * join's sort, which spilled or OOM'd at the declared 42k-query batch —
    * and the per-query payload attaches after candidate generation by a
    * shuffle-HASH join on query_id, which also lands the rows on the
    * query_id partitioning the rank window needs.
    */
  protected final def probeJoin(stored: DataFrame, queries: DataFrame, nprobe: Int,
                                payload: Seq[(String, Column)], probeBroadcastLimit: Int,
                                rowBytes: Long)
                               (broadcastSide: DataFrame => DataFrame): (DataFrame, Boolean) = {
    val keep = payload.map(p => col(p._1))
    val (probes, cells, bcast) = IndexProbes.localize(spark,
      queries.select((col("vec_id").as("query_id") +: payload.map { case (n, c) => c.as(n) } :+
          probeCells(col("embedding"), nprobe).as("p")): _*)
        .select((col("query_id") +: keep :+ col("p.cell").as("cell")): _*),
      probeBroadcastLimit, rowBytes)
    val inCells = stored.filter(col("cell").isInCollection(cells))
    def pairs(side: DataFrame) =
      inCells.join(side, Seq("cell")).filter(col("query_id") =!= col("vec_id"))
    if (bcast) (pairs(broadcast(broadcastSide(probes))), true)
    else if (payload.isEmpty) (pairs(probes), false)
    else (pairs(probes.select(col("query_id"), col("cell")))
      .join(probes.select((col("query_id") +: keep): _*)
        .dropDuplicates("query_id").hint("shuffle_hash"), Seq("query_id")), false)
  }

  /** DRIFT GUARD — the maintenance policy for frozen seeds under
    * distribution shift. Frozen seeds keep every append CORRECT (a
    * vector's cell is its exact argmax-cosine cell forever), but if the
    * ingest distribution drifts away from the bootstrap corpus, shifted
    * vectors land far from EVERY centroid: cells skew, probe candidate
    * lists bloat, and recall decays even though no row is wrong. IVF-PQ's
    * codebooks were trained on the same bootstrap distribution, so the
    * same shift degrades its ADC scoring too, and one guard gates both
    * frozen structures.
    *
    * The guard measures that directly: the fraction of `delta` whose
    * best-cell cosine falls below `cosineFloor`. One row out,
    * O(delta × nlist) multiplies — a map-only pass plus one aggregate,
    * the append's own cost shape, so it is cheap to run on EVERY ingest.
    *
    * THE RULE (spec-pinned in `SimilaritySpec`): run `driftReport` on each
    * delta BEFORE [[append]]; if `reseed_recommended` (frac_below >
    * maxFracBelow), do NOT keep appending — REBUILD into a fresh root
    * re-seeded (and, for IVF-PQ, retrained) from the combined corpus,
    * then retire the old root. Readers of the old root stay consistent
    * until the cutover.
    *
    * Empty delta yields n_vectors = 0 with NULL frac/recommendation —
    * callers gate ingests on non-empty deltas (bookmark semantics).
    */
  def driftReport(delta: DataFrame, cosineFloor: Double,
                  maxFracBelow: Double): DataFrame =
    delta
      .select(Similarity.bestCell(seeds, col("embedding")).getField("cs").as("best_cos"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("best_cos") < cosineFloor, 1L).otherwise(0L)).as("n_below"))
      .select(col("n_vectors"), col("n_below"),
        round(col("n_below").cast("double") / col("n_vectors"), 6).as("frac_below"),
        (col("n_below").cast("double") >
          lit(maxFracBelow) * col("n_vectors").cast("double"))
          .as("reseed_recommended"))

  /** One incremental ingest: assign ONLY `delta` against the frozen
    * structures and append it as the next committed generation — nothing
    * touches the stored corpus. Gate each ingest with [[driftReport]].
    */
  def append(delta: DataFrame): Unit = appendGen(delta, None)

  /** Exactly-once streaming ingest: one micro-batch = one committed
    * generation; a replayed batch id is a no-op ([[GenerationLedger.advance]]).
    */
  def appendBatch(delta: DataFrame, batchId: Long): Unit = appendGen(delta, Some(batchId))

  private def appendGen(delta: DataFrame, batchId: Option[Long]): Unit = {
    require(committedGen >= 0, "append before bootstrap: the index has no centroids")
    ledger.advance(batchId)(writeGen(_, delta))
  }

  /** COMPACTION — the read-amplification half of maintenance. Streaming
    * ingest commits one directory per micro-batch whose row groups
    * interleave all cells. The probe side (queries × nprobe cells) is
    * tiny and broadcast, so the stored rows never shuffle however many
    * generations they span; what grows is the scan itself. Folding the
    * committed view into one `base-<g>` dir range-clustered on the cell
    * id ([[GenerationLedger.compactClustered]]) lets the probe's `IN`
    * filter on the cell skip unprobed cells by row-group min/max stats,
    * and listing cost returns to O(1) in ingest history. Values are
    * byte-identical, so probes before and after hash-match. Superseded
    * dirs are retired only on request: an in-flight reader that planned
    * its scan before the cutover may still read them.
    */
  def compact(retireSuperseded: Boolean = false): Unit =
    ledger.compactClustered(retireSuperseded, "cell", "vec_id")

  /** The committed operating point, if a maintenance run has stamped one. */
  protected final def point: Option[OperatingPoint] =
    for {
      np <- ledger.get(NprobeSlot)
      bp <- ledger.get(RecallSlot)
      gen <- ledger.get(GenSlot)
      sl = ledger.get(ShortlistSlot)
      if sl.isDefined == shortlisted
    } yield OperatingPoint(np.toInt, sl.map(_.toInt), bp / 10000.0, gen)

  /** Commit the probe operating point, stamped in one atomic rename with
    * the generation it was validated against — the half of the loop that
    * makes a sweep's choice what queries read, instead of re-typed
    * constants in call sites. `nprobe` is capped at the FROZEN seed
    * count, not `nlist`: a small bootstrap corpus freezes fewer seeds, and
    * a wider point could never be served.
    */
  protected final def commitPoint(nprobe: Int, shortlist: Option[Int], recall: Double): Unit = {
    require(nprobe >= 1 && nprobe <= seeds.size && shortlist.forall(_ >= 1),
      s"operating point (nprobe=$nprobe, shortlist=${shortlist.getOrElse("-")}) out of " +
        s"range: the index froze ${seeds.size} seeds (nlist=$nlist)")
    ledger.commit(OperatingPoint(nprobe, shortlist, recall, committedGen).slots)
  }

  /** Generation the committed point was validated against. */
  def operatingPointGen: Option[Long] = point.map(_.gen)

  /** Generations committed SINCE the point was validated — the staleness
    * signal a maintenance scheduler acts on: 0 means the point saw the
    * current data; a lag past the deployment's era cadence means run
    * `maintain`. None when no point was ever committed.
    */
  def operatingPointLag: Option[Long] = operatingPointGen.map(committedGen - _)

  /** FRESHNESS-GATED probe — the [[operatingPointLag]] consumer. A
    * committed point is a claim about the data it was validated against;
    * once more than `maxLag` generations land after the stamp, serving on
    * it is the silent-degradation class the maintenance loop exists to
    * kill — so a production consumer REFUSES and names the remedy.
    * `maxLag = 0` demands a point validated against the current view.
    */
  def topKFresh(corpus: DataFrame, queries: DataFrame, k: Int,
                maxLag: Long): DataFrame = {
    val lag = operatingPointLag.getOrElse(throw new IllegalStateException(
      s"no committed operating point at $dir: run maintain() before serving"))
    if (lag > maxLag) throw new IllegalStateException(
      s"operating point at $dir is stale: validated $lag generations ago " +
        s"(max $maxLag) - run maintain() at the era boundary before serving")
    topK(corpus, queries, k)
  }

  /** Probe at the COMMITTED operating point — maintenance writes the
    * point, queries read it, and no constant in a call site can drift
    * from the last validated sweep. Refuses (never guesses) when no point
    * has been committed.
    */
  def topK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val p = point.getOrElse(throw new IllegalStateException(
      s"no committed operating point at $dir: run maintain() or a sweep + " +
        "commitOperatingPoint before probing with defaults, or pass the knobs explicitly"))
    probe(corpus, queries, k, p.nprobe, p.shortlist)
  }

  /** The RECALL SWEEP — the executable form of the rule "pick the
    * smallest nprobe whose recall clears the floor, then the smallest
    * shortlist that matches it". Recall@k is measured against the EXACT
    * scan for a caller-bounded query sample: ground truth costs one
    * full-width corpus pass with the queries broadcast (era-boundary
    * cadence); each swept setting is one stored probe, and all it
    * collects on the driver is |queries|·k id pairs.
    *
    * Phase 1 sweeps `nprobes` ascending at the widest shortlist and takes
    * the smallest that clears `recallFloor`; phase 2 (stores with a
    * shortlist axis) holds that nprobe and sweeps `shortlists` ascending.
    * In-cell scoring of the flat store is exact, so its recall is
    * monotone in nprobe and phase 1 alone decides. Settings wider than
    * the FROZEN seed count fold onto the widest probe. Decisions are made
    * on the REPORTED (4-digit) recall, so the rows fully determine the
    * choice. If NO setting clears, the widest is marked chosen with
    * `cleared = false` — the signal that buying recall query-side is
    * exhausted, never a silent pick. Settings of a phase probe
    * concurrently, one [[ParallelReports.fanOut]] branch each on the
    * store's session with `pool = None`: inside a fleet branch they stay
    * in its FAIR pool and job group, so the fleet's cancel reaches them.
    * Each is a pure function of the frozen store — only the job
    * interleaving changes, never a value — and a memo guarantees one
    * probe per setting. A failing setting is rethrown once every sibling
    * has ended.
    */
  protected final def sweep(corpus: DataFrame, queries: DataFrame, k: Int,
                            recallFloor: Double, nprobes: Seq[Int],
                            shortlists: Seq[Int]): Seq[Setting] = {
    require(k >= 1 && recallFloor > 0.0 && recallFloor <= 1.0)
    val np = nprobes.map(math.min(_, seeds.size)).distinct.sorted
    val sl = shortlists.distinct.sorted
    require(np.nonEmpty && sl.nonEmpty == shortlisted && sl.forall(_ >= k),
      "sweep settings must be non-empty with every shortlist >= k")
    def sets(df: DataFrame): Map[Long, Set[Long]] =
      df.select(col("query_id"), col("neighbor_id"))
        .collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val exact = sets(Similarity.bruteForceTopK(corpus, queries, k))
    require(exact.nonEmpty, "no queries to validate against")
    val memo = scala.collection.concurrent.TrieMap[(Int, Option[Int]), Double]()
    def recallAt(nprobe: Int, shortlist: Option[Int]): Double =
      memo.getOrElseUpdate((nprobe, shortlist), {
        val got = sets(probe(corpus, queries, k, nprobe, shortlist))
        val r = exact.map { case (q, ex) =>
          got.getOrElse(q, Set.empty[Long]).count(ex).toDouble / ex.size
        }.sum / exact.size
        math.rint(r * 10000) / 10000
      })
    val widest = sl.lastOption
    def probeAll(settings: Seq[(Int, Option[Int])]): Unit =
      ParallelReports.fanOut(spark, settings.map { case (p, s) =>
        ParallelReports.Branch(s"sweep nprobe=$p shortlist=$s", None, () => recallAt(p, s))
      })
    probeAll(np.map(_ -> widest))
    val phase1 = np.map(p => (p, widest, recallAt(p, widest)))
    val cleared1 = phase1.find(_._3 >= recallFloor)
    val chosenNp = cleared1.fold(np.last)(_._1)
    // if no nprobe cleared at the widest shortlist, narrower shortlists
    // cannot clear either: skip their probes (each a store scan job) and
    // emit only the memoized widest row, the not-cleared signal
    val phase2 =
      if (sl.isEmpty) Nil
      else if (cleared1.isEmpty) Seq((chosenNp, widest, recallAt(chosenNp, widest)))
      else {
        probeAll(sl.map(s => (chosenNp, Some(s))).filterNot(memo.contains))
        sl.map(s => (chosenNp, Some(s), recallAt(chosenNp, Some(s))))
      }
    val chosenSl = phase2.find(_._3 >= recallFloor).fold(widest)(_._2)
    phase1.map { case (p, s, r) => Setting("nprobe", p, s, r, p == chosenNp, r >= recallFloor) } ++
      phase2.map { case (p, s, r) => Setting("shortlist", p, s, r, s == chosenSl, r >= recallFloor) }
  }

  /** MAINTENANCE — the whole era-boundary lifecycle as ONE scheduled run:
    * [[driftReport]] on the delta decides whether the frozen structures
    * still fit; if not (and `reseedDir` is given) `reseed(dir, nlist)`
    * rebuilds a fresh lineage that serves from here on; [[sweep]]
    * re-derives the operating point on the serving store, which is
    * COMMITTED only when it clears the recall floor — a failed sweep
    * leaves the standing point untouched. Returns the serving store and a
    * one-row report of every number the run acted on. An empty delta
    * (NULL drift columns) is "no drift signal", never a crash.
    *
    * CAPACITY: with `cellBudget > 0` the loop answers corpus GROWTH with
    * capacity, not just probe width. A frozen nlist makes candidate volume
    * per probe ∝ n/nlist; once the corpus outgrows its cells the sweep
    * can only clear the floor at the full coarse scan, and the
    * "validated" point degrades into one. So a sweep that clears ONLY at
    * nprobe == the frozen seed count — or not at all — is a CAPACITY
    * signal: the store is rebuilt at [[Similarity.Sizing.ivfNlist]](corpus
    * count, cellBudget) — the rule `sim_ivf_auto` oracle-checks — and the
    * sweep re-runs on the grown lineage (`action = "grow"`). A fired
    * signal the run cannot act on is never silent health: with headroom
    * but no `reseedDir` it reports `grow_due`; with no headroom (derived
    * <= nlist) `capacity_exhausted` — the remedy is a bigger budget or a
    * lower floor, not a same-size rebuild. A fired drift guard without
    * `reseedDir` reports `reseed_due` and outranks the capacity signal:
    * it already demands the rebuild, which also sizes by the derived
    * nlist, so a rebuild never re-freezes yesterday's capacity.
    *
    * COMPACTION: with `compactAbove > 0` the serving store is
    * [[compact]]ed when its committed view spans more than `compactAbove`
    * fragment dirs. One scheduled call owns drift, capacity, probe point
    * and layout.
    */
  protected final def maintainLoop(corpus: DataFrame, delta: DataFrame, queries: DataFrame,
                                   k: Int, recallFloor: Double,
                                   cosineFloor: Double, maxFracBelow: Double,
                                   nprobes: Seq[Int], shortlists: Seq[Int],
                                   reseedDir: Option[String], cellBudget: Int,
                                   compactAbove: Int)
                                  (reseed: (String, Int) => S): (S, DataFrame) = {
    val d = driftReport(delta, cosineFloor, maxFracBelow).collect().head
    val nVec = d.getLong(0)
    val nBelow = if (d.isNullAt(1)) 0L else d.getLong(1)
    val frac = if (d.isNullAt(2)) 0.0 else d.getDouble(2)
    val fired = !d.isNullAt(3) && d.getBoolean(3)
    // the corpus-tracking nlist (one count, era cadence); 0 = growth off
    val derived =
      if (cellBudget > 0) Similarity.Sizing.ivfNlist(corpus.count(), cellBudget)
      else 0
    val reseeded = fired && reseedDir.isDefined
    var serving: S = if (reseeded) reseed(reseedDir.get, math.max(nlist, derived)) else this
    // the last phase's chosen setting IS the operating point
    def sweepOn(ix: S): Setting =
      ix.sweep(corpus, queries, k, recallFloor, nprobes, shortlists).filter(_.chosen).last
    var c = sweepOn(serving)
    var action = if (reseeded) "reseed" else if (fired) "reseed_due" else "revalidate"
    if (!reseeded && cellBudget > 0 && (!c.cleared || c.nprobe >= serving.seeds.size)) {
      if (reseedDir.isDefined && derived > serving.nlist) {
        serving = reseed(reseedDir.get, derived)
        c = sweepOn(serving)
        action = "grow"
      } else if (!fired)
        action = if (derived > serving.nlist) "grow_due" else "capacity_exhausted"
    }
    if (c.cleared) serving.commitPoint(c.nprobe, c.shortlist, c.recall)
    val compacted = compactAbove > 0 && serving.compactionDue(compactAbove)
    if (compacted) serving.compact()
    import spark.implicits._
    val report = Seq((action, nVec, nBelow, frac, serving.nlist,
        c.nprobe, c.shortlist.getOrElse(0), c.recall, c.cleared, c.cleared, compacted))
      .toDF("action", "n_vectors", "n_below", "frac_below", "nlist",
        "nprobe", "shortlist", "recall", "floor_cleared", "committed", "compacted")
    (serving, if (shortlisted) report else report.drop("shortlist"))
  }
}

object FrozenCellIndex {
  private val NprobeSlot = "op.nprobe"
  private val ShortlistSlot = "op.shortlist"
  private val RecallSlot = "op.recall_bp"
  private val GenSlot = "op.gen"

  /** A committed operating point: the probe width, IVF-PQ's shortlist,
    * the recall the sweep measured there and the generation it was
    * validated against. Slots: `op.nprobe`, `op.shortlist` (only when
    * present), `op.recall_bp` (basis points — bookmark slots are
    * integral) and `op.gen`.
    */
  final case class OperatingPoint(nprobe: Int, shortlist: Option[Int],
                                  recall: Double, gen: Long) {
    def slots: Map[String, Long] =
      Map(NprobeSlot -> nprobe.toLong, RecallSlot -> math.rint(recall * 10000).toLong,
        GenSlot -> gen) ++ shortlist.map(ShortlistSlot -> _.toLong)
  }

  /** One measured sweep setting: its phase ("nprobe" or "shortlist"),
    * knobs, reported recall, and whether it is the phase's choice and
    * clears the floor.
    */
  final case class Setting(phase: String, nprobe: Int, shortlist: Option[Int],
                           recall: Double, chosen: Boolean, cleared: Boolean)
}
