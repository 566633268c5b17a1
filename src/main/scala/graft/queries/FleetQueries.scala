package graft
package queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The persisted-store fleet: the staleness gate, the fleet maintenance
  * report and the maintenance loop that consumes it, over read-only
  * fixtures that persist across sessions
  * ([[graft.SparkEntry.persistentFixtureDir]]).
  */
object FleetQueries {

  val defs: Seq[QueryDef] = Seq(
    // INDEX-STALENESS DQ GATE (r14, the r13 verdict's #4): the
    // operatingPointLag signal as a scheduled data-quality row. The
    // fixture replays a real era drift: the store commits its operating
    // point at the bootstrap generation (the maintain sweep), then one
    // more ingest lands — the point is now validated against data one
    // generation old, and the gate must say `maintenance_due` instead of
    // silently letting consumers serve on it (topKFresh refuses for the
    // same reason, spec-pinned). The oracle re-derives the committed
    // nprobe from the replayed sweep grid AND the lag from the declared
    // ledger history (stamp at gen 0, watermark at gen 1) — the gate's
    // whole row is decision replay, not reporting.
    QueryDef("index_staleness_gate", (s, dir) => {
      val idx = staleIvfStore(s, dir)
      import s.implicits._
      Seq((idx.operatingPoint.get, idx.operatingPointGen.get, idx.committedGen,
          idx.operatingPointLag.get, idx.operatingPointLag.exists(_ > 0L)))
        .toDF("nprobe", "op_gen", "committed_gen", "lag", "maintenance_due")
    },
      // the gate's committed nprobe comes from the replayed sweep grid
      // (bootstrap-view corpus, k=5, floor 0.9); the lag columns replay the
      // declared ledger history — bootstrap commits gen 0, the maintain
      // stamp records op.gen = 0, the later append advances the watermark
      // to gen 1, so lag = 1 - 0 and the gate fires
      s"""WITH $ivfStaleGridCtes
         |SELECT CAST(gcnp.v AS INTEGER) AS nprobe,
         |  CAST(0 AS BIGINT) AS op_gen, CAST(1 AS BIGINT) AS committed_gen,
         |  CAST(1 - 0 AS BIGINT) AS lag, (1 - 0) > 0 AS maintenance_due
         |FROM gcnp""".stripMargin),

    // FLEET MAINTENANCE REPORT (r15, r14 verdict next-round #5): one row
    // per persisted store of a deployment manifest, each row pure O(1)
    // ledger metadata — committed watermark, compaction base, fragment
    // count, operating-point stamp and its lag — plus the three decision
    // flags a scheduler acts on (point_stale / compaction_due /
    // maintenance_due). Zero Spark jobs per store: the walk is
    // properties-file reads, so it can run every scheduler tick over
    // hundreds of stores; the data-sized health work (drift guards,
    // recall sweeps) stays in each store's own maintain(), which this
    // report decides WHERE to spend. The fixture covers the three states:
    // a HEALTHY flat-IVF store (maintained at its committed head — lag 0,
    // one fragment), the STALE store index_staleness_gate reads (shared
    // build: point stamped at gen 0, one ingest after), and a
    // FRAGMENTED inverted index that committed one generation per
    // distinct source family and never compacted. The oracle re-derives
    // the committed nprobe of both IVF rows from the replayed sweep
    // grid, every lag from the declared ledger history, and the text
    // store's fragment count from count(DISTINCT source) — data, not a
    // constant.
    QueryDef("fleet_report", (s, dir) => {
      graft.operators.Fleet.report(s,
        Seq(("sem-ivf-fresh", freshIvfStore(s, dir)),
            ("sem-ivf-stale", staleIvfStore(s, dir)),
            ("text-postings", fleetInvStore(s, dir))),
        maxLag = 0L, maxFragments = 1)
        .orderBy(col("store"))
    },
      // the fleet walk's replay: the two IVF rows' committed nprobe comes
      // from the SAME replayed sweep grid the staleness gate uses (both
      // stores stamp the identical sweep on the history corpus); the lag /
      // gen columns replay each store's declared ledger history (fresh:
      // stamp at gen 0, watermark 0; stale: stamp at gen 0, watermark 1);
      // and the text store's fragment count is re-derived from the DATA —
      // one committed generation per distinct source family of the sample,
      // so fragments = count(DISTINCT source) and the compaction decision
      // compares that count against the declared maxFragments = 1
      s"""WITH $ivfStaleGridCtes,
         |src AS (SELECT CAST(count(DISTINCT source) AS BIGINT) AS nsrc
         |  FROM documents WHERE doc_id % 10 = 0)
         |SELECT * FROM (
         |  SELECT 'sem-ivf-fresh' AS store, 'ivf' AS kind,
         |    CAST(0 AS BIGINT) AS committed_gen,
         |    CAST(-1 AS BIGINT) AS compacted_through,
         |    CAST(1 AS BIGINT) AS fragments, CAST(0 AS BIGINT) AS op_gen,
         |    CAST(0 AS BIGINT) AS lag, CAST(gcnp.v AS INTEGER) AS nprobe,
         |    0 > 0 AS point_stale, 1 > 1 AS compaction_due,
         |    (0 > 0) OR (1 > 1) AS maintenance_due
         |  FROM gcnp
         |  UNION ALL
         |  SELECT 'sem-ivf-stale', 'ivf', CAST(1 AS BIGINT),
         |    CAST(-1 AS BIGINT), CAST(2 AS BIGINT), CAST(0 AS BIGINT),
         |    CAST(1 - 0 AS BIGINT), CAST(gcnp.v AS INTEGER),
         |    (1 - 0) > 0, 2 > 1, ((1 - 0) > 0) OR (2 > 1)
         |  FROM gcnp
         |  UNION ALL
         |  SELECT 'text-postings', 'inverted', src.nsrc - 1,
         |    CAST(-1 AS BIGINT), src.nsrc, CAST(NULL AS BIGINT),
         |    CAST(NULL AS BIGINT), CAST(NULL AS INTEGER),
         |    false, src.nsrc > 1, src.nsrc > 1
         |  FROM src)
         |ORDER BY store""".stripMargin),

    // FLEET LOOP CLOSED (r16, r15 verdict #3): `fleet_report` decides
    // WHERE maintenance is due; this query CONSUMES the decision —
    // Fleet.maintainAll walks the same O(1) ledger signals, runs each
    // DUE store's own maintenance composition (the flat-IVF store's
    // maintain() with sweep + compaction; the text store's compact()),
    // skips healthy stores, and emits one before/after row per store.
    // The fixture has one skipped store (the shared healthy IVF — never
    // acted on, so sharing the persisted fixture is safe) and two acted
    // stores, which are query-PRIVATE (their actions mutate the ledger;
    // a shared fixture would make the row depend on execution order —
    // the r15 ivfpq_maintain lesson): a stale+fragmented IVF whose
    // maintain revalidates on the grown corpus, commits the swept point,
    // and compacts (lag 1→0, fragments 2→1, nprobe = the replayed
    // full-corpus grid choice), and a per-source-fragmented inverted
    // index whose compact folds nsrc generations to one. The oracle
    // replays every number: both sweep grids (the healthy store's
    // standing stamp AND the stale store's post-action choice), the
    // cleared/committed decision branch, the ledger-history lags, and
    // the data-derived fragment counts — a constant in neither side.
    QueryDef("fleet_maintain", (s, dir) => {
      val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val hist = emb.filter(col("vec_id") % 50 =!= 0)
      val delta = emb.filter(col("vec_id") % 50 === 0)
      val queries = emb.filter(col("vec_id") < 8)
      val stale = new graft.sources.IvfIndex(
        s, TempDirs.create(s, "graft-fleet-mt-ivf"), nlist = 16)
      stale.bootstrap(hist)
      // cheap gen-0 stamp: the one-setting full-coarse-scan sweep
      // (nprobe == nlist reads every cell → recall 1.0 clears any
      // floor). Its VALUE never reaches the output — only its
      // GENERATION does (lag_before = 1 after the append below) — so
      // the declared sweep is the post-action one, which the oracle
      // replays; the stamp value appears in the oracle only as the
      // not-cleared fallback branch (max of the same declared list)
      stale.maintain(hist, hist.limit(0), queries, k = 5, recallFloor = 0.9,
        cosineFloor = 0.22, maxFracBelow = 1.0, nprobes = Seq(16))
      stale.append(delta)
      val inv = new graft.sources.InvertedIndex(
        s, TempDirs.create(s, "graft-fleet-mt-inv"))
      fleetInvBuild(s, dir, inv)
      val fresh = freshIvfStore(s, dir)
      graft.operators.Fleet.maintainAll(s,
        Seq(
          graft.operators.Fleet.Entry("sem-ivf-fresh", fresh, () =>
            // never invoked (the store is healthy: lag 0, one fragment)
            // and idempotent even if it were — the identical sweep
            // re-commits the identical stamp at the identical generation
            fresh.maintain(hist, hist.limit(0), queries, k = 5,
              recallFloor = 0.9, cosineFloor = 0.22, maxFracBelow = 1.0,
              nprobes = Seq(1, 2, 4, 8, 16), compactAbove = 1).serving),
          graft.operators.Fleet.Entry("sem-ivf-stale", stale, () =>
            stale.maintain(emb, delta, queries, k = 5, recallFloor = 0.9,
              cosineFloor = 0.22, maxFracBelow = 1.0,
              nprobes = Seq(1, 2, 4, 8, 16), compactAbove = 1).serving),
          graft.operators.Fleet.Entry("text-postings", inv, () => {
            inv.compact(); inv })),
        maxLag = 0L, maxFragments = 1)
        .orderBy(col("store"))
    },
      // the closed fleet loop's replay: the skipped healthy row carries
      // its STANDING stamp (the same history-corpus grid gcnp the
      // fleet_report oracle derives); the acted IVF row replays the
      // POST-ACTION sweep — the full-corpus grid f* below, the identical
      // arithmetic the sim_ivf_committed oracle uses — including the
      // cleared/committed decision branch (an uncleared sweep leaves the
      // gen-0 stamp standing, lag stays 1, and due_after must stay true:
      // never silent health), with the gen-0 stamp's fallback value being
      // the max of the same declared sweep list, not a free constant; the
      // text row's fragment fold is re-derived from count(DISTINCT source)
      s"""WITH $ivfStaleGridCtes,
         |${Oracles.ivfCells("f", "e", "seeds")},
         |${Oracles.exactTopK("fexact", "e", 5)},
         |${Oracles.ivfFlatSweep("f", "seeds", "fexact", 5, 0.9, Seq(1, 2, 4, 8, 16), None)},
         |fcl AS (SELECT EXISTS(SELECT 1 FROM fgrid WHERE recall >= 0.9) AS ok),
         |src AS (SELECT CAST(count(DISTINCT source) AS BIGINT) AS nsrc
         |  FROM documents WHERE doc_id % 10 = 0)
         |SELECT * FROM (
         |  SELECT 'sem-ivf-fresh' AS store, 'ivf' AS kind,
         |    false AS maintenance_due,
         |    CAST(0 AS BIGINT) AS lag_before, CAST(0 AS BIGINT) AS lag_after,
         |    CAST(1 AS BIGINT) AS fragments_before,
         |    CAST(1 AS BIGINT) AS fragments_after,
         |    CAST(gcnp.v AS INTEGER) AS nprobe, false AS due_after
         |  FROM gcnp
         |  UNION ALL
         |  SELECT 'sem-ivf-stale', 'ivf', true,
         |    CAST(1 AS BIGINT),
         |    CASE WHEN fcl.ok THEN CAST(0 AS BIGINT) ELSE CAST(1 AS BIGINT) END,
         |    CAST(2 AS BIGINT), CAST(1 AS BIGINT),
         |    CAST(CASE WHEN fcl.ok THEN fcnp.v
         |         ELSE (SELECT max(np) FROM fst) END AS INTEGER),
         |    NOT fcl.ok
         |  FROM fcl, fcnp
         |  UNION ALL
         |  SELECT 'text-postings', 'inverted', true,
         |    CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
         |    src.nsrc, CAST(1 AS BIGINT), CAST(NULL AS INTEGER), false
         |  FROM src)
         |ORDER BY store""".stripMargin)
  )

  /** The era-drift IVF fixture shared by `index_staleness_gate` and
    * `fleet_report`'s stale row: [[stampedIvfStore]], then one more
    * ingest lands — the point is now one generation stale and both
    * consumers must surface it.
    */
  private def staleIvfStore(s: SparkSession, dir: String): graft.sources.IvfIndex =
    stampedIvfStore(s, dir, "stale-ivf", ingestPastStamp = true)

  /** `fleet_report`'s HEALTHY row (and `fleet_maintain`'s skipped one):
    * [[stampedIvfStore]] with no ingest after the stamp — the point is
    * validated against the current committed view (lag 0), one fragment.
    * Never mutated (the fleet loop only acts on DUE stores, and this one
    * never is).
    */
  private def freshIvfStore(s: SparkSession, dir: String): graft.sources.IvfIndex =
    stampedIvfStore(s, dir, "fleet-ivf-fresh", ingestPastStamp = false)

  /** An IVF store bootstrapped on the history slice and maintained at the
    * era boundary (validates + stamps the operating point at generation
    * 0), optionally followed by one ingest of the rest. Read-only after
    * the build, so it persists across sessions
    * ([[SparkEntry.persistentFixtureDir]]) under `name`.
    */
  private def stampedIvfStore(s: SparkSession, dir: String, name: String,
                              ingestPastStamp: Boolean): graft.sources.IvfIndex = {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val hist = emb.filter(col("vec_id") % 50 =!= 0)
    val root = SparkEntry.persistentFixtureDir(s, name, dir) { p =>
      val i = new graft.sources.IvfIndex(s, p, nlist = 16)
      i.bootstrap(hist)
      i.maintain(hist, hist.limit(0), emb.filter(col("vec_id") < 8),
        k = 5, recallFloor = 0.9, cosineFloor = 0.22, maxFracBelow = 1.0,
        nprobes = Seq(1, 2, 4, 8, 16))
      if (ingestPastStamp) i.append(emb.filter(col("vec_id") % 50 === 0))
    }
    new graft.sources.IvfIndex(s, root, nlist = 16)
  }

  /** `fleet_report`'s FRAGMENTED row: an inverted index that committed
    * one generation per distinct `source` family of the documents sample
    * (bootstrap on the first source, one append per remaining one) and
    * never compacted — so its fragment count is a DATA-DERIVED number
    * the oracle re-computes from count(DISTINCT source), not a constant.
    * The source list is driver metadata (tens of values). Read-only
    * after the build (`fleet_maintain` compacts a query-PRIVATE copy,
    * never this one), so it persists across sessions.
    */
  private def fleetInvStore(s: SparkSession, dir: String): graft.sources.InvertedIndex = {
    val root = SparkEntry.persistentFixtureDir(s, "fleet-inv", dir) { p =>
      val i = new graft.sources.InvertedIndex(s, p)
      fleetInvBuild(s, dir, i)
    }
    new graft.sources.InvertedIndex(s, root)
  }

  /** The fragmented-inverted-index build script, shared between the
    * persisted read-only fixture and `fleet_maintain`'s query-private
    * acted-on copy: bootstrap on the first source family, one committed
    * generation per remaining one, never compacted.
    */
  private def fleetInvBuild(s: SparkSession, dir: String,
                            i: graft.sources.InvertedIndex): Unit = {
    val docs = Tables.documents(s, dir).filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text"), col("source"))
    val sources = docs.select(col("source")).distinct()
      .collect().map(_.getString(0)).sorted
    i.bootstrap(docs.filter(col("source") === sources.head)
      .select(col("doc_id"), col("text")))
    sources.tail.foreach(src => i.append(
      docs.filter(col("source") === src).select(col("doc_id"), col("text"))))
  }

  /** The stale-IVF fixture's sweep replay — seeds from the bootstrap
    * history, flat-IVF recall grid over nprobes {1,2,4,8,16} at k=5 vs
    * the exact scan, smallest-clearing choice at floor 0.9 as the scalar
    * CTE `gcnp(v)` — shared by the `index_staleness_gate` and
    * `fleet_report` oracles (both fixtures stamp the identical sweep on
    * the identical history corpus, so one grid serves every committed-
    * nprobe column).
    */
  private lazy val ivfStaleGridCtes: String =
    s"""${Oracles.vectors},
       |hist AS ${IvfQueries.bootSlice},
       |${Oracles.ivfSeeds("", "hist", "16")},
       |${Oracles.ivfCells("g", "hist", "seeds")},
       |${Oracles.exactTopK("gexact", "hist", 5)},
       |${Oracles.ivfFlatSweep("g", "seeds", "gexact", 5, 0.9, Seq(1, 2, 4, 8, 16),
           None)}""".stripMargin
}
