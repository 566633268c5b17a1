package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.{cosineSimilarity, l2_fast}
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
  * source corpus. Both the coarse centroids and the codebooks are FROZEN
  * at bootstrap (the [[IvfIndex]]/[[PqIndex]] discipline): a vector's
  * (cell, codes) row is a pure function of the vector, so appends encode
  * and assign only their delta in ONE map-only pass and old rows stay
  * byte-stable forever. Retraining either structure is a REBUILD into a
  * fresh root. Rows live in generation dirs under the store's
  * [[GenerationLedger]] (watermark slot `encode`, base slot `base`): a
  * crashed append's generation is invisible to readers.
  */
final class IvfPqIndex(spark: SparkSession, dir: String,
                       val nlist: Int = 16, m: Int = 8, codes: Int = 16)
    extends MaintainedStore {

  // MaintainedStore — the O(1) ledger surface the fleet walk reads
  def kind: String = "ivfpq"
  override def pointSemantics: Boolean = true
  override def pointGen: Option[Long] = operatingPointGen
  override def pointProbe: Option[Int] = operatingPoint.map(_._1)

  protected val ledger = new GenerationLedger(spark, dir, "ivfpq_index", "encode", "base")
  private def seedsDir = s"$dir/seeds"
  private def booksDir = s"$dir/books"
  // all three tunables shape the stored rows (cell ids and codes):
  // reopening with drifted values mis-probes or reads untrained codebook
  // entries — fail at open, never mis-score (FAISS-header rule)
  ledger.validate(Map("nlist" -> nlist, "m" -> m, "codes" -> codes))

  /** The fit-time hyperparameters STAMPED at bootstrap (FAISS-header
    * rule) — the authoritative record of what the stored rows were
    * encoded with. Recall gates and maintenance sweeps read the declared
    * point from here, never from re-typed constants (r12 verdict #1):
    * a constant that drifts from the stamp re-validates the wrong point.
    * Empty for pre-stamp artifacts.
    */
  def fittedParams: Map[String, Long] =
    Seq("nlist", "m", "codes")
      .flatMap(k => ledger.get(s"param.$k").map(k -> _)).toMap

  // Both frozen structures are MEMOIZED per index handle (r17): seeds and
  // codebooks never change for a committed dir (retraining is a rebuild
  // into a fresh root — [[reseedInto]]), so one driver read each serves
  // every probe; the old per-call re-read paid two scheduler round-trips
  // per structure on EVERY topK/driftReport/sweep call, and a maintenance
  // sweep makes half a dozen of those. `lazy` keeps pre-bootstrap reads
  // failing (and not cached), so the first post-bootstrap read is served
  // from the committed parquet.
  private lazy val seeds: Seq[(Long, Seq[Float])] = spark.read.parquet(seedsDir)
    .select(col("cell_id"), col("embedding"))
    .collect().toSeq
    .map(r => (r.getLong(0), r.getSeq[Float](1)))
    .sortBy(_._1)

  private lazy val books: Map[(Int, Int), Seq[Float]] = spark.read.parquet(booksDir)
    .select(col("sub"), col("code"), col("w"))
    .collect().toSeq
    .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Float](2))
    .toMap

  /** Per-row scored cells against the frozen seeds — identical
    * arithmetic to [[IvfIndex]]/[[Similarity.ivfTopK]], so the oracle
    * replay carries over unchanged.
    */
  private def scored(ss: Seq[(Long, Seq[Float])])(emb: Column) =
    ss.map { case (cid, v) =>
      struct(cosineSimilarity(emb, typedlit(v)).as("cs"),
        lit(-cid).as("nc"), lit(cid).as("cell"))
    }

  /** One map-only pass: coarse cell (argmax cosine over frozen seeds)
    * AND PQ codes (m argmin-L2 sub-assignments over frozen codebooks)
    * per vector.
    */
  private def writeGen(g: Long, vectors: DataFrame,
                       ss: Seq[(Long, Seq[Float])],
                       bks: Map[(Int, Int), Seq[Float]]): Unit =
    Similarity.withPqCodes(
        vectors.select(col("vec_id"), col("embedding"),
          greatest(scored(ss)(col("embedding")): _*).getField("cell").as("cell")),
        bks, m, Similarity.Dim / m, codes)
      .select(col("vec_id").cast("long"), col("cell").cast("long"), col("codes"))
      .write.mode("overwrite").parquet(ledger.genDir(g))

  /** First ingest: freeze the `nlist` lowest-vec_id vectors as coarse
    * centroids and train+freeze the PQ codebooks (both on the bootstrap
    * corpus), then assign+encode every bootstrap vector as generation 0.
    * Idempotent. `trainOn` optionally bounds the codebook TRAINING
    * corpus (sample-bounded Lloyd, the [[PqIndex.bootstrap]] rule).
    */
  def bootstrap(corpus: DataFrame, iters: Int = 2,
                trainOn: Option[DataFrame] = None): Unit =
    if (committedGen < 0) {
      corpus.select(col("vec_id").as("cell_id"), col("embedding"))
        .orderBy(col("cell_id")).limit(nlist)
        .write.mode("overwrite").parquet(seedsDir)
      val trained = Similarity.pqTrain(trainOn.getOrElse(corpus), m, codes, iters)
      import spark.implicits._
      trained.toSeq.map { case ((s, c), w) => (s, c, w) }
        .toDF("sub", "code", "w")
        .coalesce(1).write.mode("overwrite").parquet(booksDir)
      ledger.advance(None,
          _ => StoreParams.stamp(Map("nlist" -> nlist, "m" -> m, "codes" -> codes)))(
        writeGen(_, corpus, seeds, trained))
    }

  /** One incremental ingest: assign+encode ONLY `delta` against the
    * frozen seeds and codebooks — delta-sized, map-only.
    */
  def append(delta: DataFrame): Unit = appendGen(delta, None)

  /** Streaming ingest: one generation per micro-batch; a replayed batch
    * id after a crash is a metadata no-op ([[GenerationLedger.advance]]).
    */
  def appendBatch(delta: DataFrame, batchId: Long): Unit = appendGen(delta, Some(batchId))

  private def appendGen(delta: DataFrame, batchId: Option[Long]): Unit = {
    require(committedGen >= 0, "append before bootstrap: the index has no centroids")
    ledger.advance(batchId)(writeGen(_, delta, seeds, books))
  }

  /** Every committed row (vec_id, cell, codes): the compacted base (if
    * one exists) plus the generations committed after it.
    */
  def rowsDf: DataFrame = {
    val (base, g) = ledger.view
    require(g >= 0, "the index is empty")
    ledger.readAsOf(base, g)
  }

  /** COMPACTION — the read-amplification half of index maintenance
    * ([[reseedInto]] retrains, [[revalidateOperatingPoint]] retunes,
    * this reorganizes). Streaming ingest commits one directory per
    * micro-batch; after 10k batches every probe lists and reads 10k
    * fragment dirs whose row groups interleave all cells, so the
    * cell-keyed probe join scans everything. Folding the committed view
    * into one `base-<g>` dir RANGE-CLUSTERED ON THE CELL ID restores
    * what the probe plan wants: min/max row-group stats prune unprobed
    * cells at the parquet scan, and listing cost returns to O(1) in
    * ingest history.
    *
    * Values are byte-identical to the folded generations (rows are
    * (vec_id, cell, codes) — a pure reshuffle), so probes before and
    * after must hash-match — the oracle-gate for the declared query.
    * Commit order, crash safety and the single-writer rule are
    * [[GenerationLedger.compact]]'s. Superseded dirs are retired only on
    * request: an in-flight reader that planned its scan before the
    * cutover may still be reading them, so the caller owns the grace
    * period.
    */
  def compact(retireSuperseded: Boolean = false): Unit =
    ledger.compact(retireSuperseded) { (base, g) =>
      ledger.readAsOf(base, g)
        .repartitionByRange(col("cell"), col("vec_id"))
        .sortWithinPartitions("cell", "vec_id")
        .write.mode("overwrite").parquet(ledger.baseDir(g))
      Map.empty
    }

  /** DRIFT GUARD — [[IvfIndex.driftReport]]'s policy ported to the
    * composition (r11 verdict #5). Drift is a property of the COARSE
    * quantizer: shifted vectors land far from every frozen seed, cells
    * skew and probe recall decays — and because the PQ codebooks were
    * trained on the same bootstrap distribution, the SAME shift degrades
    * ADC scoring quality (residuals grow, quantization error with them),
    * so one guard gates both frozen structures. Fraction of `delta`
    * whose best-cell cosine falls below `cosineFloor`; one map-only pass
    * + one aggregate, the append's own cost shape — cheap on every
    * ingest. Policy: if `reseed_recommended`, REBUILD via [[reseedInto]]
    * — retraining seeds AND codebooks into a fresh root — never mutate
    * either in place.
    */
  def driftReport(delta: DataFrame, cosineFloor: Double,
                  maxFracBelow: Double): DataFrame = {
    val ss = seeds
    delta
      .select(greatest(scored(ss)(col("embedding")): _*)
        .getField("cs").as("best_cos"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("best_cos") < cosineFloor, 1L).otherwise(0L)).as("n_below"))
      .select(col("n_vectors"), col("n_below"),
        round(col("n_below").cast("double") / col("n_vectors"), 6).as("frac_below"),
        (col("n_below").cast("double") >
          lit(maxFracBelow) * col("n_vectors").cast("double"))
          .as("reseed_recommended"))
  }

  /** The REBUILD half of [[driftReport]]'s policy: re-seed AND re-train
    * a fresh index lineage at `newDir` from `corpus` (typically the
    * committed corpus plus the drifted delta) — BOTH frozen structures
    * are retrained, because codebooks fitted on the old distribution
    * quantize the shifted mass as badly as the old seeds assign it.
    * The fresh root commits atomically through its own bootstrap
    * (generation 0 invisible until its watermark renames in); the OLD
    * root is never touched — its generations remain readable as-of until
    * the caller cuts over and retires it, the new-bookmark-context
    * discipline. Cost is one bootstrap over `corpus` — the recompute the
    * frozen-structure appends amortize away, paid only when the guard
    * fires. `trainOn` bounds the codebook training corpus (the
    * sample-bounded Lloyd rule).
    */
  def reseedInto(newDir: String, corpus: DataFrame, iters: Int = 2,
                 trainOn: Option[DataFrame] = None,
                 nlist: Int = this.nlist): IvfPqIndex = {
    val fresh = new IvfPqIndex(spark, newDir, nlist, m, codes)
    fresh.bootstrap(corpus, iters, trainOn)
    fresh
  }

  /** MAINTENANCE: re-derive the probe operating point — the executable
    * form of the production rule BASELINE.md r12 stated as prose ("pick
    * the smallest nprobe whose recall clears the floor, then the
    * smallest shortlist that matches it"), so a corpus-era boundary is a
    * scheduled operator run instead of a hand-run rehearsal and an
    * eyeball (r12 verdict #2). Recall is measured against the EXACT scan
    * for a caller-bounded query sample: ground truth costs ONE full-width
    * corpus pass with the queries broadcast (the same class as one
    * brute-force query batch — paid only at era boundaries, the
    * [[driftReport]] cadence); each swept setting then costs one
    * code-sized store probe. All per-setting state collected on the
    * driver is |queries|·k id pairs — metadata-sized, never the corpus.
    *
    * Two phases, mirroring the rule: (1) sweep `nprobes` ascending at the
    * most generous shortlist to isolate the coarse-probe effect and take
    * the smallest clearing `recallFloor`; (2) holding that nprobe, sweep
    * `shortlists` ascending and take the smallest that still clears. One
    * row per measurement: (phase, nprobe, shortlist, recall, chosen,
    * floor_cleared). If NO setting clears the floor the widest one is
    * marked chosen with floor_cleared=false — the signal that buying
    * recall query-side is exhausted and the index needs [[reseedInto]]
    * (more capacity or retrained structures), never a silent pick.
    */
  def revalidateOperatingPoint(corpus: DataFrame, queries: DataFrame,
                               k: Int, recallFloor: Double,
                               nprobes: Seq[Int], shortlists: Seq[Int]): DataFrame = {
    require(k >= 1 && recallFloor > 0.0 && recallFloor <= 1.0)
    // clamp to the FROZEN seed count (the rehearsal's own rule): a sweep
    // list is usually written once per deployment while nlist tracks the
    // corpus, so settings wider than the index fold onto its widest
    // probe. The cap is seeds.size, not nlist — bootstrap's limit(nlist)
    // is an upper bound and a small bootstrap corpus freezes fewer, so a
    // nlist-clamped setting would crash topK's own seed-count require
    val np = nprobes.map(math.min(_, seeds.size)).distinct.sorted
    val sl = shortlists.distinct.sorted
    require(np.nonEmpty && sl.nonEmpty && sl.head >= k,
      "sweep settings must be non-empty with every shortlist >= k")
    def sets(df: DataFrame): Map[Long, Set[Long]] =
      df.select(col("query_id"), col("neighbor_id"))
        .collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val exact = sets(Similarity.bruteForceTopK(corpus, queries, k))
    require(exact.nonEmpty, "no queries to validate against")
    // thread-safe memo: phase settings probe CONCURRENTLY (r17,
    // [[SweepFanout]]) — each is an independent metadata-collect probe of
    // the frozen index, so the serial loop only serialized idle stage
    // tails; the memo still guarantees one evaluation per setting and
    // phase-2 still reuses phase-1's widest-shortlist row
    val memo = scala.collection.concurrent.TrieMap[(Int, Int), Double]()
    // decisions are made on the REPORTED (4-digit) recall, so the emitted
    // rows fully determine the choice — replayable by an external oracle
    def recallAt(nprobe: Int, shortlist: Int): Double =
      memo.getOrElseUpdate((nprobe, shortlist), {
        val got = sets(topK(corpus, queries, k, shortlist, nprobe))
        val r = exact.map { case (q, ex) =>
          got.getOrElse(q, Set.empty[Long]).count(ex).toDouble / ex.size
        }.sum / exact.size
        math.rint(r * 10000) / 10000
      })
    SweepFanout.foreach(np)(p => { recallAt(p, sl.last); () })
    val phase1 = np.map(p => (p, sl.last, recallAt(p, sl.last)))
    val p1Cleared = phase1.exists(_._3 >= recallFloor)
    val chosenNp = phase1.find(_._3 >= recallFloor).map(_._1).getOrElse(np.last)
    // if no nprobe cleared at the most generous shortlist, narrower
    // shortlists cannot clear either — skip their probes (each is a full
    // store scan job) and emit only the already-memoized widest row,
    // which is the chosen-with-floor_cleared=false reseed signal
    if (p1Cleared)
      SweepFanout.foreach(sl.filterNot(s => memo.contains((chosenNp, s))))(
        s => { recallAt(chosenNp, s); () })
    val phase2 =
      if (p1Cleared) sl.map(s => (chosenNp, s, recallAt(chosenNp, s)))
      else Seq((chosenNp, sl.last, recallAt(chosenNp, sl.last)))
    val chosenSl = phase2.find(_._3 >= recallFloor).map(_._2).getOrElse(sl.last)
    import spark.implicits._
    (phase1.map { case (p, s, r) =>
        ("nprobe", p, s, r, p == chosenNp, r >= recallFloor) } ++
      phase2.map { case (p, s, r) =>
        ("shortlist", p, s, r, s == chosenSl, r >= recallFloor) })
      .toDF("phase", "nprobe", "shortlist", "recall", "chosen", "floor_cleared")
  }

  /** Commit the probe operating point into the store — the missing half
    * of the r12 maintenance loop. [[revalidateOperatingPoint]] DERIVES
    * (nprobe, shortlist) but until now the chosen values lived in call
    * sites as re-typed constants, the exact drift class the fit-param
    * stamps exist to kill: a sweep that picks p=16/s=400 at an era
    * boundary changes nothing a query reads. The point is stamped in one
    * atomic rename with the generation it was validated against
    * (`op.gen`), so a reader can tell a fresh point from one validated
    * three eras ago; recall is stored in basis points (the reported
    * 4-digit value — [[BookmarkStore]] slots are integral by design).
    */
  def commitOperatingPoint(nprobe: Int, shortlist: Int, recall: Double): Unit = {
    require(nprobe >= 1 && nprobe <= nlist && shortlist >= 1,
      s"operating point (nprobe=$nprobe, shortlist=$shortlist) out of range")
    ledger.commit(Map(
      "op.nprobe" -> nprobe.toLong,
      "op.shortlist" -> shortlist.toLong,
      "op.recall_bp" -> math.rint(recall * 10000).toLong,
      "op.gen" -> committedGen))
  }

  /** The committed (nprobe, shortlist), if a maintenance run has stamped
    * one — what a query-time default reads instead of constants.
    */
  def operatingPoint: Option[(Int, Int)] =
    for { p <- ledger.get("op.nprobe"); s <- ledger.get("op.shortlist") }
      yield (p.toInt, s.toInt)

  /** Generation the committed point was validated against — a point whose
    * gen lags [[committedGen]] by many appends is due for revalidation.
    */
  def operatingPointGen: Option[Long] = ledger.get("op.gen")

  /** Generations committed SINCE the operating point was validated — the
    * staleness signal a maintenance scheduler acts on: 0 means the point
    * saw the current data; a lag past the deployment's era cadence means
    * run [[maintain]]. None when no point was ever committed (which the
    * no-knobs [[topK]] already refuses loudly).
    */
  def operatingPointLag: Option[Long] = operatingPointGen.map(committedGen - _)

  /** FRESHNESS-GATED probe — [[IvfIndex.topKFresh]]'s discipline for the
    * composition: refuse to serve a point validated more than `maxLag`
    * generations ago, naming the remedy (run [[maintain]]).
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

  /** Probe at the COMMITTED operating point — the query-time default that
    * closes the loop: maintenance writes the point, queries read it, and
    * no constant in a call site can drift from the last validated sweep.
    * Refuses (never guesses) when no point has been committed.
    */
  def topK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val (np, sl) = operatingPoint.getOrElse(throw new IllegalStateException(
      s"no committed operating point at $dir: run maintain()/" +
        "revalidateOperatingPoint + commitOperatingPoint before probing " +
        "with defaults, or pass (shortlist, nprobe) explicitly"))
    topK(corpus, queries, k, sl, np)
  }

  /** MAINTENANCE POLICY — the whole era-boundary lifecycle as ONE
    * scheduled run, composing the three primitives that r12 left as
    * separate manual calls: [[driftReport]] decides whether the frozen
    * structures still fit the corpus; if they don't (and `reseedDir` is
    * given) [[reseedInto]] retrains seeds AND codebooks into a fresh
    * lineage; [[revalidateOperatingPoint]] then re-derives the probe
    * point on whichever index will serve, and the chosen point is
    * COMMITTED — but only when it clears the recall floor: a failed
    * sweep surfaces `floor_cleared=false` and leaves the previously
    * committed point standing (never silently ship a bad point).
    *
    * Cost shape: the drift pass is delta-sized; ground truth for the
    * sweep is one full-width corpus pass with the query sample broadcast;
    * each swept setting is one code-sized probe — all era-boundary
    * cadence, nothing lands on the per-ingest path. Returns the serving
    * index (fresh lineage when the guard fired, `this` otherwise) and a
    * one-row decision report; every number in the report is one the
    * operator actually acted on.
    */
  /** CAPACITY (r13 verdict #2): with `cellBudget > 0` the loop answers
    * corpus growth with capacity, not probe width. A frozen nlist makes
    * candidate volume ∝ n/nlist; once the corpus outgrows its cells the
    * sweep can only clear the floor at nprobe == nlist — a full coarse
    * scan with ADC overhead, institutionalized as the "validated" point
    * (the r13 10× rehearsal's committed nprobe=16/nlist=16). A sweep
    * clearing ONLY at the full coarse scan — or not at all — is a
    * CAPACITY signal: the reseed branch is forced even when the drift
    * guard is quiet, rebuilding (seeds AND codebooks) at
    * [[Similarity.Sizing.ivfNlist]](corpus count, cellBudget) and
    * re-sweeping on the grown lineage (`action = "grow"`); with
    * headroom but no `reseedDir` it reports `grow_due`, and with no
    * headroom (derived <= nlist) `capacity_exhausted` — never silent
    * health. Drift-fired reseeds size their fresh lineage by the same
    * rule. COMPACTION (r13 #8): with `compactAbove > 0` the run also
    * compacts the serving index when its committed view spans more than
    * `compactAbove` fragment dirs — one scheduled call owns the whole
    * lifecycle: drift, capacity, probe point, layout.
    */
  def maintain(corpus: DataFrame, delta: DataFrame, queries: DataFrame,
               k: Int, recallFloor: Double,
               cosineFloor: Double, maxFracBelow: Double,
               nprobes: Seq[Int], shortlists: Seq[Int],
               reseedDir: Option[String] = None,
               trainOn: Option[DataFrame] = None,
               cellBudget: Int = 0,
               compactAbove: Int = 0): IvfPqIndex.Maintenance = {
    val d = driftReport(delta, cosineFloor, maxFracBelow).collect().head
    // empty delta = no ingest since the last era, a normal scheduler
    // condition: driftReport yields NULL fraction/recommendation over
    // zero rows — treat as "no drift signal" and fall through to the
    // revalidate path instead of crashing the maintenance run
    val nVec = d.getLong(0)
    val nBelow = if (d.isNullAt(1)) 0L else d.getLong(1)
    val frac = if (d.isNullAt(2)) 0.0 else d.getDouble(2)
    val fired = !d.isNullAt(3) && d.getBoolean(3)
    // the corpus-tracking nlist (one count, era cadence); 0 = growth off
    val derived =
      if (cellBudget > 0) Similarity.Sizing.ivfNlist(corpus.count(), cellBudget)
      else 0
    val reseed = fired && reseedDir.isDefined
    var serving =
      if (reseed) reseedInto(reseedDir.get, corpus, trainOn = trainOn,
        nlist = math.max(nlist, derived))
      else this
    // the phase-2 chosen row IS the operating point (phase 1 fixes nprobe
    // at the widest shortlist; phase 2 narrows the shortlist at that nprobe)
    def sweepOn(ix: IvfPqIndex): (Int, Int, Double, Boolean) = {
      val rows = ix
        .revalidateOperatingPoint(corpus, queries, k, recallFloor, nprobes, shortlists)
        .collect()
      val c = rows.filter(r => r.getString(0) == "shortlist" && r.getBoolean(4)).head
      (c.getInt(1), c.getInt(2), c.getDouble(3), c.getBoolean(5))
    }
    var (np, sl, rec, cleared) = sweepOn(serving)
    // capacity signal: the floor clears only at the full coarse scan
    // (nprobe == frozen seed count) or not at all
    def capacityExhausted = !cleared || np >= serving.seeds.size
    var action = if (reseed) "reseed"
      else if (fired) "reseed_due" else "revalidate"
    if (!reseed && cellBudget > 0 && capacityExhausted) {
      if (reseedDir.isDefined && derived > serving.nlist) {
        serving = reseedInto(reseedDir.get, corpus, trainOn = trainOn,
          nlist = derived)
        val g = sweepOn(serving)
        np = g._1; sl = g._2; rec = g._3; cleared = g._4
        action = "grow"
      } else if (!fired) {
        // an unactionable capacity signal is never silent health
        // ([[IvfIndex.maintain]]'s rule): headroom but no reseedDir →
        // `grow_due`; no headroom (derived <= nlist, r14 ADVICE) →
        // `capacity_exhausted` — growing at the same size cannot help
        action = if (derived > serving.nlist) "grow_due" else "capacity_exhausted"
      }
      // a fired drift guard outranks the capacity signal in the single
      // action column ([[IvfIndex.maintain]]'s rule): `reseed_due`
      // already demands the rebuild that would also fix capacity
    }
    if (cleared) serving.commitOperatingPoint(np, sl, rec)
    val compacted = compactAbove > 0 && serving.compactionDue(compactAbove)
    if (compacted) serving.compact()
    import spark.implicits._
    // a fired guard the caller gave no reseedDir for is NOT a clean
    // revalidate — surface it as `reseed_due` so a scheduler reading the
    // report can't mistake an ignored rebuild signal for health; same
    // discipline for an unactionable capacity signal
    // (`grow_due`/`capacity_exhausted`)
    val report = Seq((action,
        nVec, nBelow, frac, serving.nlist, np, sl, rec, cleared, cleared, compacted))
      .toDF("action", "n_vectors", "n_below", "frac_below",
        "nlist", "nprobe", "shortlist", "recall", "floor_cleared", "committed",
        "compacted")
    IvfPqIndex.Maintenance(serving, report)
  }

  /** The (query_id, neighbor_id) candidate pairs a probe of `nprobe`
    * cells ADC-scores — the telemetry surface for the scale claim that
    * candidate volume ≈ nprobe·cellBudget per query, independent of
    * corpus size when nlist tracks n ([[Similarity.Sizing.ivfNlist]]).
    * One aggregate-free pass over the stored (cell, vec_id) columns;
    * embeddings and codes never read.
    */
  def candidates(queries: DataFrame, nprobe: Int): DataFrame = {
    val ss = seeds
    require(nprobe >= 1 && nprobe <= ss.size)
    val (probes, cells, bcast) = IndexProbes.localize(spark,
      queries.select(col("vec_id").as("query_id"),
          explode(slice(reverse(array_sort(array(scored(ss)(col("embedding")): _*))),
            1, nprobe)).as("p"))
        .select(col("query_id"), col("p.cell").as("cell")),
      rowBytes = 32L) // narrow (query_id, cell) rows — the row cap binds
    rowsDf.filter(col("cell").isInCollection(cells))
      .join(if (bcast) broadcast(probes) else probes, Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
  }

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
    val ss = seeds
    require(nprobe >= 1 && nprobe <= ss.size)
    val bks = books
    // The probe frame carries the QUERY EMBEDDING, never the m×codes ADC
    // table (r16, the r15-ADVICE hazard measured for real: at codes=256
    // the table is ~16 KB/row, so a 42k-query batch materialized 2.7 GB
    // of tables in the persisted frame and again through the
    // dedup/attach shuffles — OOM at 8 g heap. The table is a pure
    // per-QUERY function of (embedding, codebooks), so it is computed
    // ONCE per query at the last moment: on the deduplicated attach
    // side in distributed mode, on the ≤threshold local frame in
    // broadcast mode — everything that moves or persists is
    // embedding-width).
    val (probes, cells, bcast) = IndexProbes.localize(spark,
      queries.select(col("vec_id").as("query_id"),
          l2_fast(col("embedding")).as("qnorm"),
          col("embedding").as("qemb"),
          explode(slice(reverse(array_sort(array(scored(ss)(col("embedding")): _*))),
            1, nprobe)).as("p"))
        .select(col("query_id"), col("qnorm"), col("qemb"), col("p.cell").as("cell")),
      probeBroadcastLimit,
      // payload-aware broadcast tier (r15 ADVICE): the broadcast
      // RELATION materializes the per-query ADC table (computed below
      // from the collected embeddings), so the byte estimate is the
      // table width — a row-cap-only threshold would hand the driver
      // ~64 MB of materialized tables at codes=256; the byte budget
      // caps the tier near 2k rows instead
      rowBytes = 8L * m * codes + 64)
    val qtabOf = Similarity.pqQtab(bks, m, codes, col("qemb"))
    val qdot = Similarity.pqQdot(m, codes, col("qtab"), col("codes"))
    val denom = col("qnorm") * col("rnorm")
    val qcos = when(denom === 0.0, lit(0.0)).otherwise(qdot / denom)
    val wS = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("qcos").desc, col("neighbor_id"))
    val stored = rowsDf.filter(col("cell").isInCollection(cells))
      .select(col("vec_id"), col("cell"), col("codes"),
        Similarity.pqRnorm(bks, m, codes).as("rnorm"))
    val scoredCands =
      if (bcast)
        // the ≤threshold local frame computes each query's table once,
        // inside the broadcast build — the driver collect moved only
        // embedding-width rows
        stored.join(broadcast(probes.withColumn("qtab", qtabOf)), Seq("cell"))
          .filter(col("query_id") =!= col("vec_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            qcos.as("qcos"))
      else {
        // DISTRIBUTED shape (r15, measured at the 10x rehearsal): the
        // cell join must NOT carry wide per-query payload — at 16 KB per
        // probe row the join's sort spills/OOMs long before the data is
        // big (the 20k-query rehearsal batch sorts 2.6 GB of qtab rows
        // for a 5 MB candidate problem). The cell join moves only
        // (query_id, cell) — narrow rows — and the per-QUERY payload
        // attaches afterwards on the query_id partitioning the
        // shortlist window needs anyway, so the attach join adds no
        // exchange beyond the window's own. In this tier NO ADC table
        // materializes AT ALL (r17 verdict next-round #1): the attach
        // build side carries only (query_id, qnorm, qemb) — embedding
        // width, ~50x narrower than the m×codes table — and scoring is
        // the direct kernel dot(q_s, w[s, code_s]), bit-identical to
        // the qtab fold by construction (PqAdcDot; spec-pinned). The
        // r16 shape computed the table once per deduplicated query
        // streaming into the shuffle-HASH build, which kept it out of
        // the persist/dedup shuffles but still allocated ~16 KB per
        // query row in the build relation — ~0.7 GB per declared
        // 42k-row batch, the measured driver of the suite's GC
        // inflation on the batch rows. The direct kernel spends
        // m·subDim fused multiply-adds per candidate pair instead of m
        // array lookups — codegen-pipelined arithmetic traded for the
        // table's allocation + GC, a win at any batch size.
        val qdotDirect = Similarity.pqAdcDot(bks, m, codes,
          col("qemb"), col("codes"))
        val qcosDirect = when(denom === 0.0, lit(0.0))
          .otherwise(qdotDirect / denom)
        stored.join(probes.select(col("query_id"), col("cell")), Seq("cell"))
          .filter(col("query_id") =!= col("vec_id"))
          .join(probes.select(col("query_id"), col("qnorm"), col("qemb"))
            .dropDuplicates("query_id")
            .hint("shuffle_hash"), Seq("query_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            qcosDirect.as("qcos"))
      }
    val shortlisted = scoredCands
      .withColumn("srank", row_number().over(wS))
      .filter(col("srank") <= shortlist)
      .select("query_id", "neighbor_id")
    val wK = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val rerankQ = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"))
    shortlisted
      .join(corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("cv")), "neighbor_id")
      .join(if (bcast) broadcast(rerankQ) else rerankQ, "query_id")
      .select(col("query_id"), col("neighbor_id"),
        round(cosineSimilarity(col("qv"), col("cv")), 6).as("cosine"))
      .withColumn("rank", row_number().over(wK))
      .filter(col("rank") <= k)
  }
}

object IvfPqIndex {
  /** Result of one [[IvfPqIndex.maintain]] run: the index that should
    * serve queries from here on (a fresh lineage when the drift guard
    * fired, the original otherwise) and the one-row decision report.
    */
  final case class Maintenance(serving: IvfPqIndex, report: DataFrame)
}
