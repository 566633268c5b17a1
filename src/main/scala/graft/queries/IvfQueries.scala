package graft
package queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.streaming.Streaming

/** The IVF and IVF-PQ stores: ad hoc and sized IVF probes, the persisted
  * indexes' append, streaming ingest, compaction, reseed, revalidation,
  * maintenance and capacity growth, committed operating points, batch
  * probes and drift/balance telemetry. Each cached store is built by one
  * named method, so every query that reads it sees the same fixture.
  */
object IvfQueries {

  val defs: Seq[QueryDef] = Seq(
    // The IVF-PQ COMPOSITION — the production 100 TB ANN architecture:
    // coarse cells bound the candidate SET (nprobe/nlist of the corpus),
    // PQ codes bound the per-candidate COST (ADC: m lookups per pair).
    // One persisted store of (vec_id, cell, codes) rows — the FAISS
    // posting layout as a table — with both structures frozen at
    // bootstrap; queries probe 8 of 16 cells and ADC-score members only,
    // then exact-re-rank the shortlist. Operating point (r12): m=8,
    // codes=256, shortlist=200, nprobe=8 — the measured recall-1.0 point
    // (rehearsal recall rows; BASELINE.md r12). The oracle replays seeds,
    // codebook training, assignment, and ADC arithmetic end to end.
    QueryDef("sim_ivfpq_topk", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = ivfPqIndex(s, dir)
      idx.topK(emb, emb.filter(col("vec_id") < 8),
          k = 5, shortlist = 200, nprobe = 8)
        .orderBy(col("query_id"), col("rank"))
    }, ivfPqOracle(nlist = 16, nprobe = 8, m = 8,
      codes = 256, shortlist = 200, k = 5)),

    // COMPACTION — the read-amplification half of index maintenance
    // (r13; reseed retrains, revalidate retunes, compact reorganizes).
    // Streaming ingest commits one dir per micro-batch: after 10k
    // batches every probe lists 10k fragment dirs whose row groups
    // interleave all cells. compact() folds the committed view into one
    // base dir RANGE-CLUSTERED ON THE CELL ID — parquet min/max stats
    // then prune unprobed cells at the scan, and listing is O(1) in
    // ingest history. The fixture takes two appendBatch generations,
    // compacts with the superseded dirs RETIRED (so the probe provably
    // reads only the base), and probes at the declared operating point;
    // the corpus equals sim_ivfpq_topk's, so the oracle is the same
    // end-to-end replay — compaction must be invisible to results.
    QueryDef("ivfpq_compact", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = IndexCache.getOrBuildVersioned(s, s"ivfpq-cmp|$dir", dir) {
        val i = new graft.sources.IvfPqIndex(
          s, TempDirs.create(s, "graft-ivfpq-cmp"), nlist = 16, m = 8, codes = 256)
        i.bootstrap(emb.filter(col("vec_id") % 50 =!= 0))
        i.appendBatch(emb.filter(col("vec_id") % 100 === 0), batchId = 0L)
        i.appendBatch(emb.filter(col("vec_id") % 100 === 50), batchId = 1L)
        i.compact(retireSuperseded = true)
        i
      }
      idx.topK(emb, emb.filter(col("vec_id") < 8),
          k = 5, shortlist = 200, nprobe = 8)
        .orderBy(col("query_id"), col("rank"))
    },
      // compaction folds dirs, never rows: the probe over the compacted
      // (and retired-source) store must replay identically to the
      // fragment-dir store — same corpus, same oracle
      ivfPqOracle(nlist = 16, nprobe = 8, m = 8,
      codes = 256, shortlist = 200, k = 5)),

    // Streaming ingest into the PERSISTED IVF-PQ composition (the
    // stream_ivf_ingest twin for the 100 TB ANN shape): bootstrap
    // freezes seeds + codebooks on the history, each arriving
    // micro-batch is assigned + ADC-encoded against the FROZEN
    // structures (delta-sized, map-only) and committed as one
    // generation with a batch-id ledger slot — crash redelivery is a
    // metadata no-op. The post-ingest probe must equal the batch-built
    // index's: assignment and codes are pure functions of the vector
    // against frozen state, so batch boundaries cannot change a row.
    QueryDef("stream_ivfpq_ingest", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = new graft.sources.IvfPqIndex(
        s, TempDirs.create(s, "graft-ivfpq-stream"), nlist = 16, m = 8, codes = 256)
      idx.bootstrap(emb.filter(col("vec_id") % 50 =!= 0))
      graft.streaming.Streaming.drainBatches(graft.streaming.Streaming.embeddings(s, dir)
          .filter(col("vec_id") % 50 === 0).select(col("vec_id"), col("embedding")),
        graft.TempDirs.create("graft-ivfpq-ingest-ckpt"))(idx.appendBatch)
      idx.topK(emb, emb.filter(col("vec_id") < 8),
          k = 5, shortlist = 200, nprobe = 8)
        .orderBy(col("query_id"), col("rank"))
    },
      // streamed appendBatch ≡ batch append: assignment and ADC codes are
      // pure functions of the vector against the frozen seeds/codebooks,
      // so the oracle is the identical end-to-end replay
      ivfPqOracle(nlist = 16, nprobe = 8, m = 8,
      codes = 256, shortlist = 200, k = 5)),

    // The composition's MAINTENANCE POLICY as a declared query (r11
    // verdict #5, the ivf_reseed twin): drift guard + reseed cutover for
    // the IVF-PQ index, where the rebuild retrains BOTH frozen
    // structures — seeds AND codebooks — into a fresh root (reseedInto;
    // the old lineage stays readable until cutover). The report itself
    // is coarse-quantizer drift (best-seed cosine below floor), which is
    // the shared degradation signal: the same shift that mis-assigns
    // cells grows PQ residuals. Phases: the old index (bootstrapped
    // without the delta family) vs the fresh lineage (re-seeded +
    // re-trained on the combined corpus), one row each. The seeds-only
    // arithmetic makes the oracle the ivf_reseed replay verbatim;
    // codebook retraining is spec-pinned (IvfPqIndexSpec) and its
    // recall recovery measured in the rehearsal.
    QueryDef("ivfpq_reseed", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val delta = emb.filter(col("vec_id") % 50 === 0)
      val old = IndexCache.getOrBuildVersioned(s, s"ivfpq-rs-old|$dir", dir) {
        val i = new graft.sources.IvfPqIndex(
          s, TempDirs.create(s, "graft-ivfpq-rs-old"), nlist = 16, m = 8, codes = 256)
        i.bootstrap(emb.filter(col("vec_id") % 50 =!= 0))
        i
      }
      val fresh = IndexCache.getOrBuildVersioned(s, s"ivfpq-rs-new|$dir", dir) {
        old.reseedInto(TempDirs.create(s, "graft-ivfpq-rs-new"), emb)
      }
      old.driftReport(delta, cosineFloor = 0.22, maxFracBelow = 0.25)
        .select(lit("old").as("phase"), col("n_vectors"), col("n_below"),
          col("frac_below"), col("reseed_recommended"))
        .unionByName(
          fresh.driftReport(delta, cosineFloor = 0.22, maxFracBelow = 0.25)
            .select(lit("new").as("phase"), col("n_vectors"), col("n_below"),
              col("frac_below"), col("reseed_recommended")))
        .orderBy(col("phase"))
    },
      // the IVF-PQ reseed's REPORT is coarse-seed arithmetic only (same
      // seed selection, same best-cosine fold), so the replay is identical
      // — PQ codebook retraining has no footprint in this projection and
      // is pinned by IvfPqIndexSpec instead
      ivfReseedOracle),

    // The OTHER half of the composition's maintenance policy (r12
    // verdict #2): the probe operating point re-derived as an executable
    // sweep instead of BASELINE.md's manual rule. Two phases on the
    // REPORTED 4-digit recall vs the exact scan: smallest nprobe clearing
    // the 0.9 floor at the widest shortlist, then the smallest shortlist
    // that still clears at that nprobe — chosen rows marked, a
    // floor_cleared=false choice is the reseed signal, never a silent
    // pick. Ground truth costs one corpus pass with the 8 queries
    // broadcast (era-boundary cadence, the driftReport discipline); each
    // swept setting is one code-sized store probe. The oracle replays
    // the full recall grid (train/assign/encode/probe/ADC/re-rank per
    // setting) AND the two-phase choice logic.
    QueryDef("ivfpq_revalidate", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = ivfPqIndex(s, dir)
      idx.revalidateOperatingPoint(emb, emb.filter(col("vec_id") < 8),
          k = 5, recallFloor = 0.9, nprobes = Seq(2, 8), shortlists = Seq(20, 200))
        .orderBy(col("phase"), col("nprobe"), col("shortlist"))
    }, ivfPqRevalidateOracle(nlist = 16, m = 8,
      codes = 256, k = 5, floor = 0.9, nps = Seq(2, 8), sls = Seq(20, 200))),

    // r12 made the sweep executable; this closes the LOOP (r13): the
    // whole era-boundary lifecycle — drift guard on the delta,
    // conditional rebuild of both frozen structures, operating-point
    // sweep on whichever lineage will serve, and a COMMIT of the chosen
    // point into the store — as ONE scheduled operator run returning a
    // one-row decision report. A point is committed only when it clears
    // the recall floor; a failed sweep leaves the old point standing
    // with floor_cleared=false (never silently ship a bad point). The
    // fixture delta is in-distribution at maxFracBelow=0.7 (measured
    // frac_below: 0.6/0.4/0.375 at the three SFs) so the declared path
    // is the revalidate branch; the reseed branch (shifted delta → fresh
    // lineage serves) is pinned by IvfPqIndexSpec. r14 closes the two
    // remaining lifecycle halves in the SAME scheduled run: CAPACITY
    // (cellBudget=256 — the oracle re-derives the corpus-tracking nlist
    // from count(*) and replays the grow/keep decision; at these corpus
    // sizes the derived nlist stays below the constructed 16, so the
    // decision is "keep", and since r15 the oracle replays the grow arm
    // in full too — the grow-TAKEN fixtures are ivf_maintain_grow /
    // ivfpq_maintain_grow) and COMPACTION (compactAbove=1 — the
    // fixture's committed view spans 2 fragment dirs (bootstrap +
    // append), so the run folds it into a cell-clustered base and
    // reports compacted). r15, r14 ADVICE #3: the store is
    // QUERY-PRIVATE and rebuilt per execution — maintain() is stateful
    // (the fold, the stamp), so the previously shared/cached store made
    // the `compacted` column a function of run ORDER (a second
    // execution found the store already folded). A fresh store per run
    // makes every report column a pure function of the inputs, and warm
    // bench runs now time the real era work (bootstrap + append + sweep
    // + fold), closing r14's stateful-measurement caveat for this row.
    // (A second maintain() on the SAME store reporting compacted=false
    // remains correct operator behavior — spec-pinned in
    // IvfIndexSpec/IvfPqIndexSpec.)
    QueryDef("ivfpq_maintain", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = {
        val i = new graft.sources.IvfPqIndex(
          s, TempDirs.create(s, "graft-ivfpq-maint"), nlist = 16, m = 8, codes = 256)
        i.bootstrap(emb.filter(col("vec_id") % 50 =!= 0))
        i.append(emb.filter(col("vec_id") % 50 === 0))
        i
      }
      idx.maintain(emb, emb.filter(col("vec_id") % 50 === 0),
        emb.filter(col("vec_id") < 8), k = 5, recallFloor = 0.9,
        cosineFloor = 0.22, maxFracBelow = 0.7,
        nprobes = Seq(2, 8), shortlists = Seq(20, 200),
        reseedDir = Some(TempDirs.create(s, "graft-ivfpq-maint-rs")),
        cellBudget = 256, compactAbove = 1).report
    },
      // drift arithmetic + grid choice + commit decision in one row; the
      // replay covers the revalidate branch (see the query's scaladoc)
      ivfPqMaintainOracle(nlist = 16, m = 8, codes = 256,
      k = 5, floor = 0.9, cosFloor = 0.22, maxFracBelow = 0.7,
      nps = Seq(2, 8), sls = Seq(20, 200), cellBudget = 256,
      fragments = 2, compactAbove = 1)),

    // Query-time consumption of the committed point: maintain() stamps
    // (nprobe, shortlist) into the store and the no-knobs topK overload
    // reads it back — no call-site constant can drift from the last
    // validated sweep (the r12 failure class where a sweep's choice
    // changed nothing queries actually ran). The oracle derives the
    // SAME point from the replayed grid as scalar CTEs and probes at it,
    // so a store that committed a different point than the sweep chose
    // hash-mismatches here.
    QueryDef("sim_ivfpq_committed", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = ivfPqIndex(s, dir)
      // era-boundary cadence: the sweep runs once per store lifetime
      // (the committed stamp persists); every later call is probe-only —
      // the warm cost of this query IS the production query cost
      val served = if (idx.operatingPoint.isDefined) idx
        else idx.maintain(emb, emb.filter(col("vec_id") % 50 === 0),
          emb.filter(col("vec_id") < 8), k = 5, recallFloor = 0.9,
          cosineFloor = 0.22, maxFracBelow = 0.5,
          nprobes = Seq(2, 8), shortlists = Seq(20, 200)).serving
      served.topK(emb, emb.filter(col("vec_id") < 8), 5)
        .orderBy(col("query_id"), col("rank"))
    },
      // the probe point comes from the replayed grid's scalar CTEs, never
      // a hardcoded constant — mirroring the operator's committed default
      ivfPqCommittedProbeOracle(nlist = 16, m = 8,
      codes = 256, k = 5, floor = 0.9, nps = Seq(2, 8), sls = Seq(20, 200))),

    // IVF-style ANN: deterministic seed centroids, map-only argmax-cosine
    // cell assignment, nprobe-cell probing, exact re-rank of candidates.
    QueryDef("sim_ivf_topk", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 8), 5, nlist = 16, nprobe = 4)
        .orderBy(col("query_id"), col("rank"))
    },
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |seeds AS (SELECT vec_id AS cell_id, v AS cv FROM e ORDER BY vec_id LIMIT 16),
         |scored AS (
         |  SELECT e.vec_id, e.v, s.cell_id, ${Oracles.cosine("e.v", "s.cv", 64)} AS cs
         |  FROM e CROSS JOIN seeds s),
         |assign AS (
         |  SELECT vec_id, v, cell_id FROM (
         |    SELECT vec_id, v, cell_id,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell_id) AS rnk
         |    FROM scored) WHERE rnk = 1),
         |probes AS (
         |  SELECT vec_id AS query_id, v AS qv, cell_id FROM (
         |    SELECT vec_id, v, cell_id,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell_id) AS rnk
         |    FROM scored WHERE vec_id < 8) WHERE rnk <= 4),
         |cand AS (
         |  SELECT p.query_id, a.vec_id AS neighbor_id,
         |    round(${Oracles.cosine("p.qv", "a.v", 64)}, 6) AS cosine
         |  FROM assign a JOIN probes p ON a.cell_id = p.cell_id AND p.query_id != a.vec_id)
         |SELECT * FROM (
         |  SELECT query_id, neighbor_id, cosine,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM cand)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // The Sizing-derived variant AS a declared query (r6 verdict item 7):
    // nlist comes from corpus.count()/cellBudget — and the ORACLE replays
    // the same derivation in SQL (count -> clamp -> seed limit), so the
    // 100 TB operating rule itself is oracle-checked, not just the fixed-
    // knob replay.
    QueryDef("sim_ivf_auto", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopKAuto(emb, emb.filter(col("vec_id") < 8), 5,
        nprobe = 4, cellBudget = 64)
        .orderBy(col("query_id"), col("rank"))
    },
      // nlist is DERIVED inside the oracle — greatest(2, least(4096,
      // count/64)) mirrors Sizing.ivfNlist exactly, then gates the seed set
      // and probe fan-out, so a drifted derivation breaks the hash
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |nl AS (SELECT GREATEST(2, LEAST(4096, CAST(count(*) AS BIGINT) // 64)) AS nlist FROM e),
         |seeds AS (
         |  SELECT cell_id, cv FROM (
         |    SELECT vec_id AS cell_id, v AS cv,
         |      row_number() OVER (ORDER BY vec_id) AS rn FROM e)
         |  WHERE rn <= (SELECT nlist FROM nl)),
         |scored AS (
         |  SELECT e.vec_id, e.v, s.cell_id, ${Oracles.cosine("e.v", "s.cv", 64)} AS cs
         |  FROM e CROSS JOIN seeds s),
         |assign AS (
         |  SELECT vec_id, v, cell_id FROM (
         |    SELECT vec_id, v, cell_id,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell_id) AS rnk
         |    FROM scored) WHERE rnk = 1),
         |probes AS (
         |  SELECT vec_id AS query_id, v AS qv, cell_id FROM (
         |    SELECT vec_id, v, cell_id,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell_id) AS rnk
         |    FROM scored WHERE vec_id < 8)
         |  WHERE rnk <= LEAST(4, (SELECT nlist FROM nl))),
         |cand AS (
         |  SELECT p.query_id, a.vec_id AS neighbor_id,
         |    round(${Oracles.cosine("p.qv", "a.v", 64)}, 6) AS cosine
         |  FROM assign a JOIN probes p ON a.cell_id = p.cell_id AND p.query_id != a.vec_id)
         |SELECT * FROM (
         |  SELECT query_id, neighbor_id, cosine,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM cand)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // The PERSISTED-index production shape of IVF ANN: run 0 bootstraps
    // frozen centroids + corpus cell assignments as a stored parquet
    // table, run 1 assigns ONLY the delta (vec_id % 50 == 0) against the
    // frozen centroids and appends a generation; queries probe the stored
    // assignments (the corpus-wide argmax is never recomputed). Seeds =
    // the 16 lowest vec_ids of the BOOTSTRAP corpus, which the oracle
    // replays.
    QueryDef("sim_ivf_indexed", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = new graft.sources.IvfIndex(
        s, TempDirs.create(s, "graft-ivf-idx"), nlist = 16)
      idx.bootstrap(emb.filter(col("vec_id") % 50 =!= 0))
      idx.append(emb.filter(col("vec_id") % 50 === 0))
      idx.topK(emb, emb.filter(col("vec_id") < 8), 5, nprobe = 4)
        .orderBy(col("query_id"), col("rank"))
    },
      // identical to sim_ivf_topk except the seed set: centroids come from
      // the BOOTSTRAP corpus (vec_id % 50 != 0) and are frozen across the
      // delta append — the assignment formula itself is unchanged, which is
      // exactly the frozen-centroid invariant the oracle pins
      ivfIndexedOracle),

    // The committed-operating-point discipline for the FLAT IVF store
    // (r13): the production hybrid's vector arm probes this index, and
    // its nprobe was a call-site constant — the same drift class the
    // IVF-PQ loop closed. maintain() sweeps the one knob the flat store
    // has (in-cell scoring is exact, so recall is monotone in nprobe and
    // one ascending phase suffices), commits the smallest clearing
    // nprobe, and the no-knobs topK reads the stamp back. Era cadence:
    // the sweep runs once per store lifetime; warm cost is the pure
    // committed-point probe. The oracle replays the sweep grid + choice
    // as scalar CTEs and probes at the derived nprobe — a constant in
    // neither the operator nor the oracle.
    QueryDef("sim_ivf_committed", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = IndexCache.getOrBuildVersioned(s, s"ivf-cm|$dir", dir) {
        val i = new graft.sources.IvfIndex(
          s, TempDirs.create(s, "graft-ivf-cm"), nlist = 16)
        i.bootstrap(emb.filter(col("vec_id") % 50 =!= 0))
        i.append(emb.filter(col("vec_id") % 50 === 0))
        i
      }
      val served = if (idx.operatingPoint.isDefined) idx
        else idx.maintain(emb, emb.filter(col("vec_id") % 50 === 0),
          emb.filter(col("vec_id") < 8), k = 5, recallFloor = 0.9,
          cosineFloor = 0.22, maxFracBelow = 0.5,
          nprobes = Seq(1, 2, 4, 8)).serving
      served.topK(emb, emb.filter(col("vec_id") < 8), 5)
        .orderBy(col("query_id"), col("rank"))
    },
      // the flat store's probe width comes from the replayed sweep's
      // scalar CTE, not a constant — mirroring the committed default
      ivfCommittedProbeOracle(nlist = 16, k = 5,
      floor = 0.9, nps = Seq(1, 2, 4, 8))),

    // BATCH-SCALE ANN PROBE (r15, the r14 verdict's top item): the same
    // persisted flat-IVF store serving a >=10^4-query batch through the
    // DISTRIBUTED probe path. Above IndexProbes.BroadcastRowLimit the
    // driver never sees a query embedding — only the O(nlist) distinct
    // probed cell ids for the scan's IN pushdown — and candidate
    // generation is a cell-key shuffle join against the one-evaluation
    // cached probe frame (no-collect + plan shape spec-pinned in
    // IvfIndexSpec/IvfPqIndexSpec). The batch replicates the corpus 21x
    // into a disjoint query-id space (500 base rows -> 10,500 queries at
    // the verify SF; 42k probe rows >> the 4096-row broadcast limit).
    // Value-identical replicas exercise exactly the batch-scale plumbing
    // under test, and let the oracle replay the per-base-vector IVF
    // arithmetic ONCE and expand — any per-replica divergence in the
    // operator (a dropped candidate, a probe/filter disagreement) is a
    // hash mismatch.
    QueryDef("sim_ivf_batch", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = ivfBatchIndex(s, dir)
      // replication via explode(sequence), not a cross join: the batch
      // construction itself stays a narrow map stage (no
      // nested-loop/cartesian anywhere — the global QueryPlanSpec sweep
      // holds for this query too)
      val queries = emb
        .select(col("vec_id"), col("embedding"),
          explode(sequence(lit(0L), lit(20L))).as("rep"))
        .select((lit(1000000L) + col("vec_id") * 21 + col("rep")).as("vec_id"),
          col("embedding"))
      idx.topK(emb, queries, 5, nprobe = 4)
        .orderBy(col("query_id"), col("rank"))
    },
      // the batch probe replays the SAME persisted-IVF arithmetic once per
      // base vector and expands to the replicated query-id space — the
      // distributed probe path must be row-identical to the broadcast one
      ivfBatchOracle),

    // BATCH-SCALE ANN PROBE, IVF-PQ COMPOSITION (r16, r15 verdict #2):
    // sim_ivf_batch's twin through the store whose probe rows carry the
    // heaviest payload in the engine — the m×codes ADC lookup table
    // (~16 KB/row at codes=256), the case that actually OOM'd the first
    // distributed cut (a 2.6 GB sort at the 10x rehearsal) and that the
    // payload-aware broadcast threshold now caps at ~2k rows instead of
    // 4096. Same 21x-replica construction into a disjoint query-id
    // space (10,500 queries -> 42,000 probe rows at the verify SF, far
    // above both thresholds): the cell join moves narrow (query_id,
    // cell) rows, the per-query ADC table attaches post-candidates via
    // the shuffle-hash join on the shortlist window's own partitioning,
    // and the driver only ever sees O(nlist) distinct cell ids
    // (spec-pinned in IvfPqIndexSpec). The oracle replays the per-base
    // train/assign/encode/ADC/shortlist/re-rank arithmetic ONCE and
    // expands — any per-replica divergence in the distributed ADC path
    // is a hash mismatch.
    QueryDef("sim_ivfpq_batch", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = IndexCache.getOrBuildVersioned(s, s"ivfpq-batch|$dir", dir) {
        val i = new graft.sources.IvfPqIndex(
          s, TempDirs.create(s, "graft-ivfpq-batch"), nlist = 16, m = 8, codes = 256)
        i.bootstrap(emb.filter(col("vec_id") % 50 =!= 0))
        i.append(emb.filter(col("vec_id") % 50 === 0))
        i
      }
      // replication via explode(sequence), never a cross join (the
      // global QueryPlanSpec no-cartesian sweep covers this query too)
      val queries = emb
        .select(col("vec_id"), col("embedding"),
          explode(sequence(lit(0L), lit(20L))).as("rep"))
        .select((lit(1000000L) + col("vec_id") * 21 + col("rep")).as("vec_id"),
          col("embedding"))
      idx.topK(emb, queries, 5, shortlist = 50, nprobe = 4)
        .orderBy(col("query_id"), col("rank"))
    },
      // the IVF-PQ twin (r15 verdict #2): per-base ADC arithmetic replayed
      // once and expanded — the distributed probe's narrow-cell-join +
      // shuffle-hash ADC attach must be row-identical to the broadcast path
      ivfPqBatchOracle(nlist = 16, nprobe = 4, m = 8,
      codes = 256, shortlist = 50, k = 5)),

    // CAPACITY-ADAPTIVE MAINTENANCE (r14, closing r13 verdict #2): a
    // frozen nlist makes candidate volume ∝ n/nlist, so once the corpus
    // outgrows its cells the sweep's only clearing setting is
    // nprobe == nlist — a full coarse scan committed as the "validated"
    // operating point (exactly what the r13 10× rehearsal shipped:
    // p16/nlist16). maintain() now reads that shape — the floor clearing
    // only at the full scan, or never — as a CAPACITY signal and forces
    // the reseed branch at the corpus-tracking nlist
    // (Sizing.ivfNlist(count, cellBudget), the rule sim_ivf_auto
    // oracle-checks) even though the drift guard is quiet, then
    // re-sweeps on the grown lineage and commits a point that prunes
    // again. The fixture: a 2-cell index (nprobe=1 recall 0.6-0.825 <
    // 0.9 at every SF; nprobe=2 IS the full scan) grows to
    // clamp(n/64, 2, 4096) cells and the post-grow sweep chooses
    // nprobe < nlist with recall >= 0.9. The oracle replays BOTH sweep
    // grids, the capacity signal, the derived nlist, and the chosen
    // point — no constant anywhere.
    QueryDef("ivf_maintain_grow", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = IndexCache.getOrBuildVersioned(s, s"ivf-grow|$dir", dir) {
        val i = new graft.sources.IvfIndex(
          s, TempDirs.create(s, "graft-ivf-grow"), nlist = 2)
        i.bootstrap(emb.filter(col("vec_id") % 50 =!= 0))
        i.append(emb.filter(col("vec_id") % 50 === 0))
        i
      }
      // maxFracBelow = 1.0 structurally disables the drift guard: the
      // declared path is capacity-without-drift (the r13 blind spot)
      idx.maintain(emb, emb.filter(col("vec_id") % 50 === 0),
        emb.filter(col("vec_id") < 8), k = 5, recallFloor = 0.9,
        cosineFloor = 0.22, maxFracBelow = 1.0,
        nprobes = Seq(1, 2, 4, 8, 16),
        reseedDir = Some(TempDirs.create(s, "graft-ivf-grow-new")),
        cellBudget = 64).report
    },
      // the capacity decision end to end: both sweep grids, the capacity
      // signal, the count-derived target nlist, and the post-grow chosen
      // point are all re-derived in SQL — a constant in neither side
      ivfGrowMaintainOracle(oldNlist = 2, k = 5,
      floor = 0.9, cosFloor = 0.22, maxFracBelow = 1.0,
      nps = Seq(1, 2, 4, 8, 16), cellBudget = 64)),

    // The IVF-PQ twin of ivf_maintain_grow (r15, r14 verdict #2's done
    // criterion: the composition's maintain oracle green at a fixture
    // where the grow arm is actually TAKEN). A deliberately undersized
    // 2-cell composition: the sweep can only clear the floor at the full
    // coarse scan (nprobe == nlist == 2) or not at all — the capacity
    // signal — so maintain() grows BOTH frozen structures (seeds at the
    // count-derived Sizing.ivfNlist(n, 64); codebooks re-trained on the
    // full corpus, reseedInto's rule) into a fresh lineage and re-sweeps
    // there. The oracle replays BOTH grids through the shared
    // ivfPqGridArm generator — pre-grow AND grown, codebook training and
    // ADC arithmetic included — plus the capacity signal, the derived
    // nlist, and the chosen post-grow point: a constant in neither side.
    // Grow is taken at EVERY SF (derived = clamp(n/64, 2, 4096) = 7 at
    // 500 rows, 31 at 2000 — all > 2). maxFracBelow = 1.0 structurally
    // disables the drift guard: the declared path is capacity WITHOUT
    // drift, the r13 blind spot. The base store never mutates (the point
    // commits on the grown lineage, rebuilt into a fresh scratch root
    // each execution), so the report is execution-order-free.
    QueryDef("ivfpq_maintain_grow", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = IndexCache.getOrBuildVersioned(s, s"ivfpq-grow|$dir", dir) {
        val i = new graft.sources.IvfPqIndex(
          s, TempDirs.create(s, "graft-ivfpq-grow"), nlist = 2, m = 8, codes = 16)
        i.bootstrap(emb.filter(col("vec_id") % 50 =!= 0))
        i.append(emb.filter(col("vec_id") % 50 === 0))
        i
      }
      idx.maintain(emb, emb.filter(col("vec_id") % 50 === 0),
        emb.filter(col("vec_id") < 8), k = 5, recallFloor = 0.9,
        cosineFloor = 0.22, maxFracBelow = 1.0,
        nprobes = Seq(1, 2, 4, 8), shortlists = Seq(20, 200),
        reseedDir = Some(TempDirs.create(s, "graft-ivfpq-grow-new")),
        cellBudget = 64).report
    },
      // the composition's grow-taken replay: both sweep grids (pre-grow
      // and grown — seeds AND codebooks re-derived per arm), the capacity
      // signal, the count-derived nlist, and the post-grow chosen point,
      // all through the same generator the keep-branch oracle uses.
      // fragments = 1: when grow is taken the SERVING lineage is the fresh
      // bootstrap-only root; compactAbove = 0 = compaction off this run
      ivfPqMaintainOracle(nlist = 2, m = 8,
      codes = 16, k = 5, floor = 0.9, cosFloor = 0.22, maxFracBelow = 1.0,
      nps = Seq(1, 2, 4, 8), sls = Seq(20, 200), cellBudget = 64,
      fragments = 1, compactAbove = 0)),

    // Continuous vector-index maintenance: the delta arrives as an
    // embedding STREAM; each micro-batch lands as one committed
    // generation against the frozen centroids via the exactly-once
    // appendBatch. The post-stream probe must hash-match the batch-built
    // sim_ivf_indexed oracle: streaming and batch ingest are
    // indistinguishable to a reader.
    QueryDef("stream_ivf_ingest", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = new graft.sources.IvfIndex(
        s, TempDirs.create(s, "graft-ivf-stream"), nlist = 16)
      idx.bootstrap(emb.filter(col("vec_id") % 50 =!= 0))
      graft.streaming.Streaming.drainBatches(graft.streaming.Streaming.embeddings(s, dir)
          .filter(col("vec_id") % 50 === 0).select(col("vec_id"), col("embedding")),
        graft.TempDirs.create("graft-ivf-ingest-ckpt"))(idx.appendBatch)
      idx.topK(emb, emb.filter(col("vec_id") < 8), 5, nprobe = 4)
        .orderBy(col("query_id"), col("rank"))
    },
      // the streaming ingest must be indistinguishable from the batch
      // append — one oracle pins both
      ivfIndexedOracle),

    // The reseed CUTOVER the drift guard's policy prescribes, as a
    // declared query: the old lineage (bootstrapped without the drifted
    // family) and the fresh lineage (re-seeded from the combined corpus
    // via reseedInto — a new root, never an in-place centroid mutation)
    // each report the delta's assignment quality, long-form one row per
    // phase. What's pinned is the cutover MECHANICS (fresh lineage,
    // before/after report, decision rule) — the synthetic delta is a
    // random slice, not genuinely drifted mass, so the quality numbers
    // move only marginally between phases. Both indexes session-cached;
    // each report is a map-only pass over the delta + one aggregate.
    QueryDef("ivf_reseed", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val delta = emb.filter(col("vec_id") % 50 === 0)
      val old = IndexCache.getOrBuildVersioned(s, s"ivf-rs-old|$dir", dir) {
        val i = new graft.sources.IvfIndex(
          s, TempDirs.create(s, "graft-ivf-rs-old"), nlist = 16)
        i.bootstrap(emb.filter(col("vec_id") % 50 =!= 0))
        i
      }
      val fresh = IndexCache.getOrBuildVersioned(s, s"ivf-rs-new|$dir", dir) {
        old.reseedInto(TempDirs.create(s, "graft-ivf-rs-new"), emb)
      }
      old.driftReport(delta, cosineFloor = 0.22, maxFracBelow = 0.25)
        .select(lit("old").as("phase"), col("n_vectors"), col("n_below"),
          col("frac_below"), col("reseed_recommended"))
        .unionByName(
          fresh.driftReport(delta, cosineFloor = 0.22, maxFracBelow = 0.25)
            .select(lit("new").as("phase"), col("n_vectors"), col("n_below"),
              col("frac_below"), col("reseed_recommended")))
        .orderBy(col("phase"))
    },
      // drift guard replay: same frozen bootstrap seeds as sim_ivf_indexed,
      // best-cell cosine via the shared left-fold arithmetic (identical
      // doubles, so the `< floor` comparison matches bit-for-bit), integer
      // counts cast to BIGINT for the pandas-hash dtype gate
      ivfReseedOracle),

    // The IVF index's MAINTENANCE POLICY as a declared query: the drift
    // guard that gates every ingest of a frozen-centroid index. Best-cell
    // cosine of each delta vector against the bootstrap centroids, one
    // report row out (n, n_below floor, fraction, reseed recommendation).
    // The floor/threshold (0.22 / 0.25) sit inside the fixture's observed
    // best-cosine range so both branches of the comparison are exercised.
    QueryDef("ivf_drift", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = new graft.sources.IvfIndex(
        s, TempDirs.create(s, "graft-ivf-drift"), nlist = 16)
      idx.bootstrap(emb.filter(col("vec_id") % 50 =!= 0))
      idx.driftReport(emb.filter(col("vec_id") % 50 === 0),
        cosineFloor = 0.22, maxFracBelow = 0.25)
    },
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |seeds AS (SELECT vec_id AS cell_id, v AS cv FROM e
         |  WHERE vec_id % 50 != 0 ORDER BY vec_id LIMIT 16),
         |best AS (
         |  SELECT d.vec_id, max(${Oracles.cosine("d.v", "s.cv", 64)}) AS best_cos
         |  FROM (SELECT vec_id, v FROM e WHERE vec_id % 50 = 0) d
         |  CROSS JOIN seeds s GROUP BY d.vec_id)
         |SELECT CAST(count(*) AS BIGINT) AS n_vectors,
         |  CAST(sum(CASE WHEN best_cos < 0.22 THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
         |  round(CAST(sum(CASE WHEN best_cos < 0.22 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 6) + 0 AS frac_below,
         |  CAST(sum(CASE WHEN best_cos < 0.22 THEN 1 ELSE 0 END) AS DOUBLE)
         |    > 0.25 * count(*) AS reseed_recommended
         |FROM best""".stripMargin),

    // The index's probe-cost telemetry: occupied-cell count, stored rows,
    // hottest cell, and skew (max/mean occupied cell) over the SAME
    // bootstrap+append lineage as sim_ivf_indexed — one aggregate over the
    // stored (vec_id, cell) rows, embeddings never read. Skew is the
    // probe's tail latency; the reseed rule lives on
    // IvfIndex.balanceReport.
    QueryDef("ivf_balance", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = new graft.sources.IvfIndex(
        s, TempDirs.create(s, "graft-ivf-bal"), nlist = 16)
      idx.bootstrap(emb.filter(col("vec_id") % 50 =!= 0))
      idx.append(emb.filter(col("vec_id") % 50 === 0))
      idx.balanceReport
    },
      // balance replay: assignment is a pure function of the vector against
      // the frozen bootstrap seeds (the invariant sim_ivf_indexed pins), so
      // the oracle assigns the WHOLE corpus in one pass and aggregates
      // per-cell occupancy; integer counts cast to BIGINT for the dtype gate
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |seeds AS (SELECT vec_id AS cell_id, v AS cv FROM e
         |  WHERE vec_id % 50 != 0 ORDER BY vec_id LIMIT 16),
         |scored AS (
         |  SELECT e.vec_id, s.cell_id, ${Oracles.cosine("e.v", "s.cv", 64)} AS cs
         |  FROM e CROSS JOIN seeds s),
         |assign AS (
         |  SELECT vec_id, cell_id FROM (
         |    SELECT vec_id, cell_id,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell_id) AS rnk
         |    FROM scored) WHERE rnk = 1),
         |per AS (SELECT cell_id, count(*) AS sz FROM assign GROUP BY cell_id)
         |SELECT CAST(count(*) AS BIGINT) AS n_cells,
         |  CAST(sum(sz) AS BIGINT) AS n_rows,
         |  CAST(max(sz) AS BIGINT) AS max_cell,
         |  round(CAST(max(sz) AS DOUBLE) * count(*) / sum(sz), 6) + 0 AS skew
         |FROM per""".stripMargin)
  )

  /** The persisted IVF-PQ store `sim_ivfpq_topk`, `ivfpq_revalidate` and
    * `sim_ivfpq_committed` share: bootstrapped on the history slice
    * (vec_id % 50 != 0), the rest appended as one delta generation.
    */
  private def ivfPqIndex(s: SparkSession, dir: String): graft.sources.IvfPqIndex =
    IndexCache.getOrBuildVersioned(s, s"ivfpq-idx|$dir", dir) {
      val emb = Tables.embeddings(s, dir)
      val i = new graft.sources.IvfPqIndex(
        s, TempDirs.create(s, "graft-ivfpq-idx"), nlist = 16, m = 8, codes = 256)
      i.bootstrap(emb.filter(col("vec_id") % 50 =!= 0))
      i.append(emb.filter(col("vec_id") % 50 === 0))
      i
    }

  /** The persisted flat-IVF store behind the batch probes (`sim_ivf_batch`
    * and the vector arm of `hybrid_batch_rrf`): same history/delta split.
    */
  private[queries] def ivfBatchIndex(s: SparkSession, dir: String): graft.sources.IvfIndex =
    IndexCache.getOrBuildVersioned(s, s"ivf-batch|$dir", dir) {
      val emb = Tables.embeddings(s, dir)
      val i = new graft.sources.IvfIndex(
        s, TempDirs.create(s, "graft-ivf-batch"), nlist = 16)
      i.bootstrap(emb.filter(col("vec_id") % 50 =!= 0))
      i.append(emb.filter(col("vec_id") % 50 === 0))
      i
    }

  /** The IVF-PQ replay: coarse cells + PQ codes both trained/seeded on
    * the bootstrap slice (vec_id % 50 != 0), whole corpus assigned and
    * encoded (frozen-state purity, the sim_ivf_indexed/sim_pq_indexed
    * invariant), candidates = probed cells' members only, ADC-scored,
    * shortlisted, exact-re-ranked.
    */
  private def ivfPqOracle(nlist: Int, nprobe: Int, m: Int, codes: Int,
                          shortlist: Int, k: Int): String = {
    val adcSum = VectorQueries.pqAdcSum(m, "p.qv")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |et AS (SELECT vec_id, v FROM e WHERE vec_id % 50 != 0),
       |${VectorQueries.pqTrainEncodeCtes(m, codes)},
       |${VectorQueries.pqEncjCte(m)},
       |seeds AS (SELECT vec_id AS cell_id, v AS cv FROM e
       |  WHERE vec_id % 50 != 0 ORDER BY vec_id LIMIT $nlist),
       |cscored AS (
       |  SELECT e.vec_id, e.v, s.cell_id, ${Oracles.cosine("e.v", "s.cv", 64)} AS cs
       |  FROM e CROSS JOIN seeds s),
       |assign AS (
       |  SELECT vec_id, cell_id FROM (
       |    SELECT vec_id, cell_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell_id) AS rnk
       |    FROM cscored) WHERE rnk = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, v AS qv, ${Oracles.l2("v", 64)} AS qnorm,
       |    cell_id FROM (
       |    SELECT vec_id, v, cell_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell_id) AS rnk
       |    FROM cscored WHERE vec_id < 8) WHERE rnk <= $nprobe),
       |sc AS (
       |  SELECT p.query_id, r.vec_id AS neighbor_id,
       |    CASE WHEN p.qnorm * r.rnorm = 0 THEN 0.0
       |         ELSE $adcSum / (p.qnorm * r.rnorm) END AS qcos
       |  FROM assign a
       |  JOIN probes p ON a.cell_id = p.cell_id AND p.query_id != a.vec_id
       |  JOIN encj r ON r.vec_id = a.vec_id),
       |sl AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY qcos DESC, neighbor_id) AS srank
       |    FROM sc) WHERE srank <= $shortlist),
       |rer AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM (
       |    SELECT sl.query_id, sl.neighbor_id,
       |      round(${Oracles.cosine("qe.v", "ne.v", 64)}, 6) AS cosine
       |    FROM sl JOIN e ne ON ne.vec_id = sl.neighbor_id
       |    JOIN e qe ON qe.vec_id = sl.query_id))
       |SELECT query_id, rank, neighbor_id, cosine
       |FROM rer WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** The CTE chain shared by every oracle that replays the operating-
    * point sweep ([[ivfPqRevalidateOracle]], the maintain decision, the
    * committed-point probe): the recall GRID over the IVF-PQ replay
    * arithmetic (train/assign/encode once, probe per setting), then the
    * two-phase smallest-clearing choice as scalar CTEs `cnp`/`csl` —
    * everything after `WITH ` and before the consumer's final SELECT.
    */
  private[queries] def ivfPqGridCtes(nlist: Int, m: Int, codes: Int, k: Int,
                            floor: Double, nps: Seq[Int],
                            sls: Seq[Int]): String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |et AS (SELECT vec_id, v FROM e WHERE vec_id % 50 != 0),
       |exact AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(${Oracles.cosine("q.v", "c.v", 64)}, 6) DESC,
       |          c.vec_id) AS rank
       |    FROM e c JOIN (SELECT * FROM e WHERE vec_id < 8) q
       |      ON q.vec_id != c.vec_id) WHERE rank <= $k),
       |${ivfPqGridArm(m, codes, k, floor, nps, sls, pre = "",
           seedsSql = s"SELECT vec_id AS cell_id, v AS cv FROM e" +
             s" WHERE vec_id % 50 != 0 ORDER BY vec_id LIMIT $nlist",
           trainCte = "et", npClamp = None)}""".stripMargin

  /** One complete IVF-PQ sweep-grid ARM — seeds → assign → probe → ADC →
    * shortlist → exact re-rank → recall grid → two-phase smallest-
    * clearing choice — with every generated CTE name prefixed by `pre`,
    * so the maintain oracle can replay TWO independently seeded/trained
    * grids (the serving index's and the grown lineage's, r14 verdict #2)
    * in one statement. `seedsSql` supplies the coarse seed rows (the
    * bootstrap-slice LIMIT for the frozen chain; a count-derived dynamic
    * top-N for the grown one), `trainCte` the codebook training corpus
    * (`reseedInto` retrains on the FULL corpus), and `npClamp` an
    * optional CTE name carrying a one-row `nl` column the swept nprobes
    * fold onto — the operator clamps sweep settings to the frozen seed
    * count, and the grown arm's capacity is count-derived so its clamp
    * must be too. Requires `e` and `exact` from the shared block.
    */
  private def ivfPqGridArm(m: Int, codes: Int, k: Int, floor: Double,
                           nps: Seq[Int], sls: Seq[Int], pre: String,
                           seedsSql: String, trainCte: String,
                           npClamp: Option[String]): String = {
    // VectorQueries.pqAdcSum addresses codeword lists through the join alias `r`, so
    // it is prefix-independent
    val adcSum = VectorQueries.pqAdcSum(m, "p.qv")
    val maxNp = nps.max
    val maxSl = sls.max
    val settings = (for { p <- nps; s <- sls } yield s"($p, $s)").mkString(", ")
    val stCte = npClamp match {
      case Some(c) =>
        s"""${pre}st AS (SELECT DISTINCT least(t.np, $c.nl) AS np, t.slim
           |  FROM (VALUES $settings) AS t(np, slim), $c)""".stripMargin
      case None => s"${pre}st AS (SELECT * FROM (VALUES $settings) AS t(np, slim))"
    }
    s"""${VectorQueries.pqTrainEncodeCtes(m, codes, pre, trainCte)},
       |${VectorQueries.pqEncjCte(m, pre)},
       |${pre}seeds AS ($seedsSql),
       |${pre}cscored AS (
       |  SELECT e.vec_id, e.v, s.cell_id, ${Oracles.cosine("e.v", "s.cv", 64)} AS cs
       |  FROM e CROSS JOIN ${pre}seeds s),
       |${pre}assign AS (
       |  SELECT vec_id, cell_id FROM (
       |    SELECT vec_id, cell_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell_id) AS rnk
       |    FROM ${pre}cscored) WHERE rnk = 1),
       |${pre}probes AS (
       |  SELECT vec_id AS query_id, v AS qv, ${Oracles.l2("v", 64)} AS qnorm,
       |    cell_id, rnk AS prnk FROM (
       |    SELECT vec_id, v, cell_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell_id) AS rnk
       |    FROM ${pre}cscored WHERE vec_id < 8) WHERE rnk <= $maxNp),
       |${pre}sc AS (
       |  SELECT p.query_id, p.prnk, r.vec_id AS neighbor_id,
       |    CASE WHEN p.qnorm * r.rnorm = 0 THEN 0.0
       |         ELSE $adcSum / (p.qnorm * r.rnorm) END AS qcos
       |  FROM ${pre}assign a
       |  JOIN ${pre}probes p ON a.cell_id = p.cell_id AND p.query_id != a.vec_id
       |  JOIN ${pre}encj r ON r.vec_id = a.vec_id),
       |$stCte,
       |${pre}scs AS (
       |  SELECT st.np, st.slim, s.query_id, s.neighbor_id,
       |    row_number() OVER (PARTITION BY st.np, st.slim, s.query_id
       |      ORDER BY s.qcos DESC, s.neighbor_id) AS srank
       |  FROM ${pre}st st JOIN ${pre}sc s ON s.prnk <= st.np),
       |${pre}shl AS (SELECT np, slim, query_id, neighbor_id FROM ${pre}scs
       |  WHERE srank <= slim),
       |${pre}rer AS (
       |  SELECT np, slim, query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY np, slim, query_id
       |      ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM (
       |    SELECT x.np, x.slim, x.query_id, x.neighbor_id,
       |      round(${Oracles.cosine("qe.v", "ne.v", 64)}, 6) AS cosine
       |    FROM ${pre}shl x JOIN e ne ON ne.vec_id = x.neighbor_id
       |    JOIN e qe ON qe.vec_id = x.query_id)),
       |${pre}ann AS (SELECT np, slim, query_id, neighbor_id FROM ${pre}rer
       |  WHERE rank <= $k),
       |${pre}hits AS (
       |  SELECT st.np, st.slim, ex.query_id, count(a.neighbor_id) AS nhit
       |  FROM ${pre}st st CROSS JOIN exact ex
       |  LEFT JOIN ${pre}ann a ON a.np = st.np AND a.slim = st.slim
       |    AND a.query_id = ex.query_id AND a.neighbor_id = ex.neighbor_id
       |  GROUP BY 1, 2, 3),
       |${pre}grid AS (
       |  SELECT np, slim, round(avg(nhit / CAST($k AS DOUBLE)), 4) AS recall
       |  FROM ${pre}hits GROUP BY 1, 2),
       |${pre}p1 AS (SELECT np, recall FROM ${pre}grid WHERE slim = $maxSl),
       |${pre}cnp AS (SELECT coalesce(
       |  (SELECT min(np) FROM ${pre}p1 WHERE recall >= $floor),
       |  (SELECT max(np) FROM ${pre}p1)) AS v),
       |${pre}p2 AS (SELECT slim, recall FROM ${pre}grid, ${pre}cnp cnp
       |  WHERE np = cnp.v),
       |${pre}csl AS (SELECT coalesce(
       |  (SELECT min(slim) FROM ${pre}p2 WHERE recall >= $floor),
       |  (SELECT max(slim) FROM ${pre}p2)) AS v),
       |${pre}p1ok AS (SELECT CAST(max(CASE WHEN recall >= $floor THEN 1 ELSE 0 END)
       |  AS INTEGER) AS ok FROM ${pre}p1)""".stripMargin
  }

  /** Replays [[graft.sources.IvfPqIndex.revalidateOperatingPoint]] — the
    * full grid ([[ivfPqGridCtes]]) emitted as the operator's sweep rows.
    */
  private def ivfPqRevalidateOracle(nlist: Int, m: Int, codes: Int, k: Int,
                                    floor: Double, nps: Seq[Int],
                                    sls: Seq[Int]): String = {
    val maxSl = sls.max
    s"""WITH ${ivfPqGridCtes(nlist, m, codes, k, floor, nps, sls)}
       |SELECT phase, nprobe, shortlist, recall, chosen, floor_cleared FROM (
       |  SELECT 'nprobe' AS phase, CAST(np AS INTEGER) AS nprobe,
       |    CAST($maxSl AS INTEGER) AS shortlist, recall,
       |    np = cnp.v AS chosen, recall >= $floor AS floor_cleared
       |  FROM p1, cnp
       |  UNION ALL
       |  -- the operator skips narrower-shortlist probes when phase 1
       |  -- never cleared (they cannot clear either): only the widest
       |  -- phase-2 row exists in that case
       |  SELECT 'shortlist', CAST(cnp.v AS INTEGER), CAST(slim AS INTEGER), recall,
       |    slim = csl.v, recall >= $floor
       |  FROM p2, cnp, csl, p1ok WHERE p1ok.ok = 1 OR slim = $maxSl)
       |ORDER BY phase, nprobe, shortlist""".stripMargin
  }

  /** Replays [[graft.sources.IvfPqIndex.maintain]]'s one-row decision:
    * the drift fraction of the delta against the frozen bootstrap seeds
    * (the guard's arithmetic — [[ivfReseedOracle]]'s `old` phase), the
    * action it implies at `maxFracBelow`, the serving grid's two-phase
    * choice from [[ivfPqGridCtes]] — and (r15, closing r14 verdict #2)
    * the FULL GROW ARM: a second grid ([[ivfPqGridArm]] prefix `n`)
    * re-seeded at the count-derived nlist and re-trained on the FULL
    * corpus replays the post-grow sweep (ADC included), so the replay is
    * exact on BOTH capacity branches at any corpus size. The r14 version
    * emitted the pre-grow grid unconditionally and was exact only under
    * cellBudget·nlist vectors — past that a CORRECT grow decision
    * flipped the hard gate red. The drift-reseed branch stays
    * spec-pinned (IvfPqIndexSpec, shifted delta); a fixture drifting
    * past the threshold — or declared without a reseedDir (`grow_due`)
    * — mismatches loudly on the action column, the safe direction.
    */
  private def ivfPqMaintainOracle(nlist: Int, m: Int, codes: Int, k: Int,
                                  floor: Double, cosFloor: Double,
                                  maxFracBelow: Double, nps: Seq[Int],
                                  sls: Seq[Int], cellBudget: Int,
                                  fragments: Int, compactAbove: Int): String = {
    // the operator clamps sweep settings to the frozen seed count — the
    // base arm's capacity is the static nlist, so clamp in Scala; the
    // grown arm's is count-derived, so it clamps in SQL (npClamp)
    val baseNps = nps.map(math.min(_, nlist)).distinct.sorted
    s"""WITH ${ivfPqGridCtes(nlist, m, codes, k, floor, baseNps, sls)},
       |delta AS (SELECT vec_id, v FROM e WHERE vec_id % 50 = 0),
       |drift AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_vectors,
       |    CAST(sum(CASE WHEN best_cos < $cosFloor THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_below,
       |    round(CAST(sum(CASE WHEN best_cos < $cosFloor THEN 1 ELSE 0 END)
       |      AS DOUBLE) / count(*), 6) + 0 AS frac_below
       |  FROM (
       |    SELECT d.vec_id, max(${Oracles.cosine("d.v", "s.cv", 64)}) AS best_cos
       |    FROM delta d CROSS JOIN seeds s GROUP BY d.vec_id)),
       |chosen AS (
       |  SELECT cnp.v AS np, csl.v AS slim, g.recall
       |  FROM cnp CROSS JOIN csl CROSS JOIN grid g
       |  WHERE g.np = cnp.v AND g.slim = csl.v),
       |-- the corpus-tracking nlist (Sizing.ivfNlist replayed from the
       |-- corpus count: clamp(n / cellBudget, 2, 4096)) and the CAPACITY
       |-- signal (the sweep cleared only at the full coarse scan, or not
       |-- at all)
       |nlg AS (SELECT CAST(greatest(2, least(4096, count(*) // $cellBudget))
       |  AS INTEGER) AS nl FROM e),
       |cap AS (SELECT (p1ok.ok = 0 OR cnp.v >= $nlist) AS x FROM p1ok, cnp),
       |dec AS (SELECT (cap.x AND nlg.nl > $nlist) AS grow FROM cap, nlg),
       |-- the GROW ARM: seeds = the derived number of lowest vec_ids of
       |-- the FULL corpus (reseedInto/bootstrap's rule), codebooks
       |-- re-trained on the full corpus, sweep settings clamped to the
       |-- count-derived capacity — identical arithmetic to the serving
       |-- arm via the shared generator, only the lineage differs
       |${ivfPqGridArm(m, codes, k, floor, nps, sls, pre = "n",
           seedsSql = "SELECT vec_id AS cell_id, v AS cv FROM" +
             " (SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rn" +
             " FROM e), nlg WHERE rn <= nlg.nl",
           trainCte = "e", npClamp = Some("nlg"))},
       |nchosen AS (
       |  SELECT cnp.v AS np, csl.v AS slim, g.recall
       |  FROM ncnp cnp CROSS JOIN ncsl csl CROSS JOIN ngrid g
       |  WHERE g.np = cnp.v AND g.slim = csl.v)
       |SELECT
       |  CASE WHEN d.n_below > $maxFracBelow * d.n_vectors THEN 'reseed'
       |       WHEN dec.grow THEN 'grow'
       |       WHEN cap.x AND nlg.nl <= $nlist THEN 'capacity_exhausted'
       |       ELSE 'revalidate' END AS action,
       |  d.n_vectors, d.n_below, d.frac_below,
       |  CAST(CASE WHEN d.n_below > $maxFracBelow * d.n_vectors
       |            THEN greatest($nlist, nlg.nl)
       |       WHEN dec.grow THEN nlg.nl
       |       ELSE $nlist END AS INTEGER) AS nlist,
       |  CAST(CASE WHEN dec.grow THEN nc.np ELSE c.np END AS INTEGER) AS nprobe,
       |  CAST(CASE WHEN dec.grow THEN nc.slim ELSE c.slim END AS INTEGER)
       |    AS shortlist,
       |  CASE WHEN dec.grow THEN nc.recall ELSE c.recall END AS recall,
       |  CASE WHEN dec.grow THEN nc.recall ELSE c.recall END >= $floor
       |    AS floor_cleared,
       |  CASE WHEN dec.grow THEN nc.recall ELSE c.recall END >= $floor
       |    AS committed,
       |  -- compaction decision replay: the query-private fixture store is
       |  -- rebuilt per execution (r14 ADVICE #3), so its committed view
       |  -- spans exactly $fragments dirs (bootstrap + appends) every run
       |  -- — due iff compaction is enabled and over threshold, a pure
       |  -- function of the fixture now
       |  CAST(($compactAbove > 0) AND ($fragments > $compactAbove)
       |    AS BOOLEAN) AS compacted
       |FROM drift d, chosen c, nchosen nc, nlg, cap, dec""".stripMargin
  }

  /** Replays a probe of [[graft.sources.IvfPqIndex.topK]] at the
    * COMMITTED operating point: the grid choice CTEs derive (cnp, csl)
    * and the probe consumes them as scalar subqueries — the oracle never
    * hardcodes the point, exactly as the operator no longer does.
    */
  private def ivfPqCommittedProbeOracle(nlist: Int, m: Int, codes: Int,
                                        k: Int, floor: Double, nps: Seq[Int],
                                        sls: Seq[Int]): String =
    s"""WITH ${ivfPqGridCtes(nlist, m, codes, k, floor, nps, sls)},
       |pf AS (
       |  SELECT s.query_id, s.neighbor_id, s.qcos
       |  FROM sc s, cnp WHERE s.prnk <= cnp.v),
       |slc AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY qcos DESC, neighbor_id) AS srank
       |    FROM pf), csl WHERE srank <= csl.v),
       |rerc AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM (
       |    SELECT x.query_id, x.neighbor_id,
       |      round(${Oracles.cosine("qe.v", "ne.v", 64)}, 6) AS cosine
       |    FROM slc x JOIN e ne ON ne.vec_id = x.neighbor_id
       |    JOIN e qe ON qe.vec_id = x.query_id))
       |SELECT query_id, rank, neighbor_id, cosine
       |FROM rerc WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** Shared replay for ivf_reseed and ivfpq_reseed: drift report over
    * the old (bootstrap-only) seeds vs the re-seeded (full-corpus)
    * seeds — the report never touches codes, so one SQL serves both
    * index families.
    */
  private lazy val ivfReseedOracle: String = {
    def report(seedCte: String, phase: String) =
      s"""SELECT '$phase' AS phase, CAST(count(*) AS BIGINT) AS n_vectors,
         |  CAST(sum(CASE WHEN best_cos < 0.22 THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
         |  round(CAST(sum(CASE WHEN best_cos < 0.22 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 6) + 0 AS frac_below,
         |  CAST(sum(CASE WHEN best_cos < 0.22 THEN 1 ELSE 0 END) AS DOUBLE)
         |    > 0.25 * count(*) AS reseed_recommended
         |FROM (
         |  SELECT d.vec_id, max(${Oracles.cosine("d.v", "s.cv", 64)}) AS best_cos
         |  FROM d CROSS JOIN $seedCte s GROUP BY d.vec_id)""".stripMargin
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |oseeds AS (SELECT vec_id AS cell_id, v AS cv FROM e
       |  WHERE vec_id % 50 != 0 ORDER BY vec_id LIMIT 16),
       |nseeds AS (SELECT vec_id AS cell_id, v AS cv FROM e
       |  ORDER BY vec_id LIMIT 16),
       |d AS (SELECT vec_id, v FROM e WHERE vec_id % 50 = 0)
       |${report("oseeds", "old")}
       |UNION ALL
       |${report("nseeds", "new")}
       |ORDER BY phase""".stripMargin
  }

  /** The IVF indexed-probe replay, shared by `sim_ivf_indexed` (batch
    * append) and `stream_ivf_ingest` (exactly-once streaming append):
    * assignment is a pure function of the vector against the frozen
    * bootstrap seeds, so both ingest paths must produce this result.
    */
  private lazy val ivfIndexedOracle: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |seeds AS (SELECT vec_id AS cell_id, v AS cv FROM e
       |  WHERE vec_id % 50 != 0 ORDER BY vec_id LIMIT 16),
       |scored AS (
       |  SELECT e.vec_id, e.v, s.cell_id, ${Oracles.cosine("e.v", "s.cv", 64)} AS cs
       |  FROM e CROSS JOIN seeds s),
       |assign AS (
       |  SELECT vec_id, v, cell_id FROM (
       |    SELECT vec_id, v, cell_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell_id) AS rnk
       |    FROM scored) WHERE rnk = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, v AS qv, cell_id FROM (
       |    SELECT vec_id, v, cell_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell_id) AS rnk
       |    FROM scored WHERE vec_id < 8) WHERE rnk <= 4),
       |cand AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |    round(${Oracles.cosine("p.qv", "a.v", 64)}, 6) AS cosine
       |  FROM assign a JOIN probes p ON a.cell_id = p.cell_id AND p.query_id != a.vec_id)
       |SELECT * FROM (
       |  SELECT query_id, neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM cand)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Replays `sim_ivf_batch`: [[ivfIndexedOracle]]'s persisted-IVF probe
    * arithmetic computed ONCE per base corpus vector, then expanded to
    * the replicated query-id space. Replicas of the same embedding MUST
    * rank identically — the property that makes the expansion valid, and
    * that turns any per-replica divergence in the operator's distributed
    * probe path (a dropped candidate, a probe/IN-filter disagreement)
    * into a hash mismatch. Query ids live in a disjoint space
    * (1,000,000 + base*21 + rep), so no self-exclusion applies on either
    * side.
    */
  private lazy val ivfBatchOracle: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |seeds AS (SELECT vec_id AS cell_id, v AS cv FROM e
       |  WHERE vec_id % 50 != 0 ORDER BY vec_id LIMIT 16),
       |scored AS (
       |  SELECT e.vec_id, e.v, s.cell_id, ${Oracles.cosine("e.v", "s.cv", 64)} AS cs
       |  FROM e CROSS JOIN seeds s),
       |assign AS (
       |  SELECT vec_id, v, cell_id FROM (
       |    SELECT vec_id, v, cell_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell_id) AS rnk
       |    FROM scored) WHERE rnk = 1),
       |probes AS (
       |  SELECT vec_id AS qbase, v AS qv, cell_id FROM (
       |    SELECT vec_id, v, cell_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell_id) AS rnk
       |    FROM scored) WHERE rnk <= 4),
       |based AS (
       |  SELECT qbase, neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY qbase
       |      ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM (
       |    SELECT p.qbase, a.vec_id AS neighbor_id,
       |      round(${Oracles.cosine("p.qv", "a.v", 64)}, 6) AS cosine
       |    FROM assign a JOIN probes p ON a.cell_id = p.cell_id)),
       |reps AS (SELECT unnest(range(0, 21)) AS r)
       |SELECT 1000000 + b.qbase * 21 + t.r AS query_id, b.rank, b.neighbor_id,
       |  b.cosine
       |FROM based b CROSS JOIN reps t WHERE b.rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** Replays `sim_ivfpq_batch`: [[ivfPqOracle]]'s persisted-composition
    * arithmetic — coarse seeds + PQ codebooks trained on the bootstrap
    * slice, whole corpus assigned and encoded, probed cells' members
    * ADC-scored, shortlisted, exact-re-ranked — computed ONCE per base
    * corpus vector, then expanded to the replicated query-id space
    * ([[ivfBatchOracle]]'s construction). No self-exclusion on either
    * side: query ids live at 1,000,000 + base·21 + rep, disjoint from
    * every corpus vec_id, so the operator's query_id != vec_id filter is
    * a no-op by construction and the base vector may rank itself.
    */
  private def ivfPqBatchOracle(nlist: Int, nprobe: Int, m: Int, codes: Int,
                               shortlist: Int, k: Int): String = {
    val adcSum = VectorQueries.pqAdcSum(m, "p.qv")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |et AS (SELECT vec_id, v FROM e WHERE vec_id % 50 != 0),
       |${VectorQueries.pqTrainEncodeCtes(m, codes)},
       |${VectorQueries.pqEncjCte(m)},
       |seeds AS (SELECT vec_id AS cell_id, v AS cv FROM e
       |  WHERE vec_id % 50 != 0 ORDER BY vec_id LIMIT $nlist),
       |cscored AS (
       |  SELECT e.vec_id, e.v, s.cell_id, ${Oracles.cosine("e.v", "s.cv", 64)} AS cs
       |  FROM e CROSS JOIN seeds s),
       |assign AS (
       |  SELECT vec_id, cell_id FROM (
       |    SELECT vec_id, cell_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell_id) AS rnk
       |    FROM cscored) WHERE rnk = 1),
       |probes AS (
       |  SELECT vec_id AS qbase, v AS qv, ${Oracles.l2("v", 64)} AS qnorm,
       |    cell_id FROM (
       |    SELECT vec_id, v, cell_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell_id) AS rnk
       |    FROM cscored) WHERE rnk <= $nprobe),
       |sc AS (
       |  SELECT p.qbase, r.vec_id AS neighbor_id,
       |    CASE WHEN p.qnorm * r.rnorm = 0 THEN 0.0
       |         ELSE $adcSum / (p.qnorm * r.rnorm) END AS qcos
       |  FROM assign a
       |  JOIN probes p ON a.cell_id = p.cell_id
       |  JOIN encj r ON r.vec_id = a.vec_id),
       |sl AS (
       |  SELECT qbase, neighbor_id FROM (
       |    SELECT qbase, neighbor_id,
       |      row_number() OVER (PARTITION BY qbase
       |        ORDER BY qcos DESC, neighbor_id) AS srank
       |    FROM sc) WHERE srank <= $shortlist),
       |based AS (
       |  SELECT qbase, neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY qbase
       |      ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM (
       |    SELECT sl.qbase, sl.neighbor_id,
       |      round(${Oracles.cosine("qe.v", "ne.v", 64)}, 6) AS cosine
       |    FROM sl JOIN e ne ON ne.vec_id = sl.neighbor_id
       |    JOIN e qe ON qe.vec_id = sl.qbase)),
       |reps AS (SELECT unnest(range(0, 21)) AS r)
       |SELECT 1000000 + b.qbase * 21 + t.r AS query_id, b.rank, b.neighbor_id,
       |  b.cosine
       |FROM based b CROSS JOIN reps t WHERE b.rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Replays `sim_ivf_committed`: the flat-IVF sweep grid (recall@k per
    * nprobe vs the exact scan, reported 4 digits), the smallest-clearing
    * choice as the scalar CTE `cnp`, and the probe AT that derived
    * nprobe — [[ivfIndexedOracle]]'s arithmetic with the probe width
    * coming from the replayed sweep instead of a constant.
    */
  private def ivfCommittedProbeOracle(nlist: Int, k: Int, floor: Double,
                                      nps: Seq[Int]): String = {
    val maxNp = nps.max
    val settings = nps.map(p => s"($p)").mkString(", ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |seeds AS (SELECT vec_id AS cell_id, v AS cv FROM e
       |  WHERE vec_id % 50 != 0 ORDER BY vec_id LIMIT $nlist),
       |scored AS (
       |  SELECT e.vec_id, e.v, s.cell_id, ${Oracles.cosine("e.v", "s.cv", 64)} AS cs
       |  FROM e CROSS JOIN seeds s),
       |assign AS (
       |  SELECT vec_id, v, cell_id FROM (
       |    SELECT vec_id, v, cell_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell_id) AS rnk
       |    FROM scored) WHERE rnk = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, v AS qv, cell_id, rnk AS prnk FROM (
       |    SELECT vec_id, v, cell_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell_id) AS rnk
       |    FROM scored WHERE vec_id < 8) WHERE rnk <= $maxNp),
       |st AS (SELECT * FROM (VALUES $settings) AS t(np)),
       |cand AS (
       |  SELECT st.np, p.query_id, a.vec_id AS neighbor_id,
       |    round(${Oracles.cosine("p.qv", "a.v", 64)}, 6) AS cosine
       |  FROM st JOIN probes p ON p.prnk <= st.np
       |  JOIN assign a ON a.cell_id = p.cell_id AND p.query_id != a.vec_id),
       |annk AS (
       |  SELECT np, query_id, neighbor_id, cosine, rank FROM (
       |    SELECT np, query_id, neighbor_id, cosine,
       |      row_number() OVER (PARTITION BY np, query_id
       |        ORDER BY cosine DESC, neighbor_id) AS rank
       |    FROM cand) WHERE rank <= $k),
       |exact AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(${Oracles.cosine("q.v", "c.v", 64)}, 6) DESC,
       |          c.vec_id) AS rank
       |    FROM e c JOIN (SELECT * FROM e WHERE vec_id < 8) q
       |      ON q.vec_id != c.vec_id) WHERE rank <= $k),
       |hits AS (
       |  SELECT st.np, ex.query_id, count(a.neighbor_id) AS nhit
       |  FROM st CROSS JOIN exact ex
       |  LEFT JOIN annk a ON a.np = st.np
       |    AND a.query_id = ex.query_id AND a.neighbor_id = ex.neighbor_id
       |  GROUP BY 1, 2),
       |grid AS (
       |  SELECT np, round(avg(nhit / CAST($k AS DOUBLE)), 4) AS recall
       |  FROM hits GROUP BY 1),
       |cnp AS (SELECT coalesce((SELECT min(np) FROM grid WHERE recall >= $floor),
       |  (SELECT max(np) FROM grid)) AS v)
       |SELECT query_id, rank, neighbor_id, cosine
       |FROM annk, cnp WHERE annk.np = cnp.v ORDER BY query_id, rank""".stripMargin
  }

  /** Replays `ivf_maintain_grow` — the CAPACITY-adaptive maintenance run
    * (r13 verdict #2) end to end, every decision re-derived in SQL:
    * (1) the drift report over the undersized index's frozen seeds (the
    * guard stays quiet at maxFracBelow=1.0 — the point is that capacity
    * fires WITHOUT drift); (2) the nprobe sweep grid on the OLD
    * `oldNlist`-cell index and the capacity signal — the floor clears
    * only at nprobe == nlist (a full coarse scan) or not at all; (3) the
    * corpus-tracking target nlist, Sizing.ivfNlist replayed as
    * clamp(count / cellBudget, 2, 4096) — a CONSTANT in neither the
    * operator nor this SQL; (4) the re-sweep on the GROWN index (seeds =
    * the derived number of lowest vec_ids of the full corpus, the
    * reseedInto/bootstrap rule) with the same sweep list clamped to the
    * new capacity; (5) the one-row report with the grown nlist, the
    * post-grow chosen nprobe (< nlist — the committed point is a real
    * pruned probe again, not the institutionalized full scan the r13 10×
    * rehearsal shipped) and its recall. Both grids are emitted through
    * identical arithmetic so a store that grew to a different capacity,
    * swept a different grid, or committed a different point than its own
    * decision rule hash-mismatches here.
    */
  private def ivfGrowMaintainOracle(oldNlist: Int, k: Int, floor: Double,
                                    cosFloor: Double, maxFracBelow: Double,
                                    nps: Seq[Int], cellBudget: Int): String = {
    val oldSettings = nps.map(math.min(_, oldNlist)).distinct.sorted
      .map(p => s"($p)").mkString(", ")
    val rawSettings = nps.map(p => s"($p)").mkString(", ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |boot AS (SELECT vec_id, v FROM e WHERE vec_id % 50 != 0),
       |delta AS (SELECT vec_id, v FROM e WHERE vec_id % 50 = 0),
       |oseeds AS (SELECT vec_id AS cell_id, v AS cv FROM boot
       |  ORDER BY vec_id LIMIT $oldNlist),
       |drift AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_vectors,
       |    CAST(sum(CASE WHEN best_cos < $cosFloor THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_below,
       |    round(CAST(sum(CASE WHEN best_cos < $cosFloor THEN 1 ELSE 0 END)
       |      AS DOUBLE) / count(*), 6) + 0 AS frac_below
       |  FROM (
       |    SELECT d.vec_id, max(${Oracles.cosine("d.v", "s.cv", 64)}) AS best_cos
       |    FROM delta d CROSS JOIN oseeds s GROUP BY d.vec_id)),
       |exact AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(${Oracles.cosine("q.v", "c.v", 64)}, 6) DESC,
       |          c.vec_id) AS rank
       |    FROM e c JOIN (SELECT * FROM e WHERE vec_id < 8) q
       |      ON q.vec_id != c.vec_id) WHERE rank <= $k),
       |oscored AS (
       |  SELECT e.vec_id, e.v, s.cell_id, ${Oracles.cosine("e.v", "s.cv", 64)} AS cs
       |  FROM e CROSS JOIN oseeds s),
       |oassign AS (
       |  SELECT vec_id, v, cell_id FROM (
       |    SELECT vec_id, v, cell_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell_id) AS rnk
       |    FROM oscored) WHERE rnk = 1),
       |oprobes AS (
       |  SELECT vec_id AS query_id, v AS qv, cell_id, rnk AS prnk FROM (
       |    SELECT vec_id, v, cell_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell_id) AS rnk
       |    FROM oscored WHERE vec_id < 8) WHERE rnk <= $oldNlist),
       |ost AS (SELECT * FROM (VALUES $oldSettings) AS t(np)),
       |ocand AS (
       |  SELECT ost.np, p.query_id, a.vec_id AS neighbor_id,
       |    round(${Oracles.cosine("p.qv", "a.v", 64)}, 6) AS cosine
       |  FROM ost JOIN oprobes p ON p.prnk <= ost.np
       |  JOIN oassign a ON a.cell_id = p.cell_id AND p.query_id != a.vec_id),
       |oannk AS (
       |  SELECT np, query_id, neighbor_id FROM (
       |    SELECT np, query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY np, query_id
       |        ORDER BY cosine DESC, neighbor_id) AS rank
       |    FROM ocand) WHERE rank <= $k),
       |ohits AS (
       |  SELECT ost.np, ex.query_id, count(a.neighbor_id) AS nhit
       |  FROM ost CROSS JOIN exact ex
       |  LEFT JOIN oannk a ON a.np = ost.np
       |    AND a.query_id = ex.query_id AND a.neighbor_id = ex.neighbor_id
       |  GROUP BY 1, 2),
       |ogrid AS (
       |  SELECT np, round(avg(nhit / CAST($k AS DOUBLE)), 4) AS recall
       |  FROM ohits GROUP BY 1),
       |ocnp AS (SELECT coalesce((SELECT min(np) FROM ogrid WHERE recall >= $floor),
       |  (SELECT max(np) FROM ogrid)) AS v),
       |ook AS (SELECT CAST(max(CASE WHEN recall >= $floor THEN 1 ELSE 0 END)
       |  AS INTEGER) AS ok FROM ogrid),
       |nlg AS (SELECT CAST(greatest(2, least(4096, count(*) // $cellBudget))
       |  AS INTEGER) AS nl FROM e),
       |cap AS (SELECT (ook.ok = 0 OR ocnp.v >= $oldNlist) AS x FROM ook, ocnp),
       |dec AS (SELECT (cap.x AND nlg.nl > $oldNlist) AS grow FROM cap, nlg),
       |nseeds AS (
       |  SELECT vec_id AS cell_id, v AS cv FROM (
       |    SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rn FROM e), nlg
       |  WHERE rn <= nlg.nl),
       |nscored AS (
       |  SELECT e.vec_id, e.v, s.cell_id, ${Oracles.cosine("e.v", "s.cv", 64)} AS cs
       |  FROM e CROSS JOIN nseeds s),
       |nassign AS (
       |  SELECT vec_id, v, cell_id FROM (
       |    SELECT vec_id, v, cell_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell_id) AS rnk
       |    FROM nscored) WHERE rnk = 1),
       |nst AS (SELECT DISTINCT least(t.np, nlg.nl) AS np
       |  FROM (VALUES $rawSettings) AS t(np), nlg),
       |npro AS (
       |  SELECT vec_id AS query_id, v AS qv, cell_id, rnk AS prnk FROM (
       |    SELECT vec_id, v, cell_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell_id) AS rnk
       |    FROM nscored WHERE vec_id < 8)
       |  WHERE rnk <= (SELECT max(np) FROM nst)),
       |ncand AS (
       |  SELECT nst.np, p.query_id, a.vec_id AS neighbor_id,
       |    round(${Oracles.cosine("p.qv", "a.v", 64)}, 6) AS cosine
       |  FROM nst JOIN npro p ON p.prnk <= nst.np
       |  JOIN nassign a ON a.cell_id = p.cell_id AND p.query_id != a.vec_id),
       |nannk AS (
       |  SELECT np, query_id, neighbor_id FROM (
       |    SELECT np, query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY np, query_id
       |        ORDER BY cosine DESC, neighbor_id) AS rank
       |    FROM ncand) WHERE rank <= $k),
       |nhits AS (
       |  SELECT nst.np, ex.query_id, count(a.neighbor_id) AS nhit
       |  FROM nst CROSS JOIN exact ex
       |  LEFT JOIN nannk a ON a.np = nst.np
       |    AND a.query_id = ex.query_id AND a.neighbor_id = ex.neighbor_id
       |  GROUP BY 1, 2),
       |ngrid AS (
       |  SELECT np, round(avg(nhit / CAST($k AS DOUBLE)), 4) AS recall
       |  FROM nhits GROUP BY 1),
       |ncnp AS (SELECT coalesce((SELECT min(np) FROM ngrid WHERE recall >= $floor),
       |  (SELECT max(np) FROM ngrid)) AS v)
       |SELECT
       |  CASE WHEN d.n_below > $maxFracBelow * d.n_vectors THEN 'reseed'
       |       WHEN dec.grow THEN 'grow' ELSE 'revalidate' END AS action,
       |  d.n_vectors, d.n_below, d.frac_below,
       |  CAST(CASE WHEN dec.grow THEN nlg.nl ELSE $oldNlist END AS INTEGER) AS nlist,
       |  CAST(CASE WHEN dec.grow THEN ncnp.v ELSE ocnp.v END AS INTEGER) AS nprobe,
       |  CASE WHEN dec.grow THEN (SELECT recall FROM ngrid, ncnp WHERE np = ncnp.v)
       |       ELSE (SELECT recall FROM ogrid, ocnp WHERE np = ocnp.v)
       |  END AS recall,
       |  CASE WHEN dec.grow THEN (SELECT recall FROM ngrid, ncnp WHERE np = ncnp.v)
       |       ELSE (SELECT recall FROM ogrid, ocnp WHERE np = ocnp.v)
       |  END >= $floor AS floor_cleared,
       |  CASE WHEN dec.grow THEN (SELECT recall FROM ngrid, ncnp WHERE np = ncnp.v)
       |       ELSE (SELECT recall FROM ogrid, ocnp WHERE np = ocnp.v)
       |  END >= $floor AS committed,
       |  CAST(false AS BOOLEAN) AS compacted
       |FROM drift d, dec, nlg, ocnp, ncnp""".stripMargin
  }
}
